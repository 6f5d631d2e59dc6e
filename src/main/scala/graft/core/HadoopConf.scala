package graft.core

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.slf4j.LoggerFactory

/** A Hadoop `Configuration` that records no property sources.
  *
  * Hadoop keeps, per property, the list of resources that set it (its
  * private `updatingResource` map) and `Configuration.write` compresses
  * each list in a GZIP stream of its own. Spark serializes the session's
  * conf into every write task and every file-scan broadcast, so those
  * ~1,100 streams are paid on every such task, on the driver and on the
  * executor. Hadoop reads that map only in `write`, in the copy
  * constructor, in `getPropertySources` and in the XML/JSON config dumps;
  * `get`, `set`, reload and deprecation never read it, so no property
  * value depends on it.
  */
object HadoopConf {
  private val log = LoggerFactory.getLogger(getClass)

  /** A map that records nothing: `put` returns null, `entrySet` is empty.
    * Unlike a one-off `clear()`, it stays empty through the reloads that a
    * later `Configuration.addDefaultResource` triggers. */
  private object NoSources extends java.util.AbstractMap[String, Array[String]] {
    override def put(k: String, v: Array[String]): Array[String] = null
    override def entrySet(): java.util.Set[java.util.Map.Entry[String, Array[String]]] =
      java.util.Collections.emptySet()
  }

  private val sourcesField =
    try {
      val f = classOf[Configuration].getDeclaredField("updatingResource")
      require(f.getType == classOf[java.util.Map[_, _]], s"its type is ${f.getType}")
      f.setAccessible(true)
      Some(f)
    } catch { case NonFatal(e) =>
      log.warn(s"Hadoop Configuration has no usable updatingResource field ($e); " +
        "property sources stay recorded and serialized")
      None
    }

  /** Load `conf`'s properties, then make it record no property sources:
    * `getPropertySources` answers null, and `write` and copies carry no
    * sources. Property values are unchanged. Returns false, and leaves
    * `conf` as it was, on a Hadoop without the field (one WARN per JVM). */
  def dropSources(conf: Configuration): Boolean =
    sourcesField.exists { f =>
      conf.size(): Unit // load the default and site resources first
      f.set(conf, NoSources)
      true
    }
}
