package graft.core

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.util.SerializableConfiguration

import graft.SparkSpec

/** The session's Hadoop conf records no property sources, and nothing else
  * about it changes. */
class HadoopConfSpec extends SparkSpec {

  private val key = "hadoop.tmp.dir" // set by core-default.xml

  private def entries(c: Configuration): Map[String, String] =
    c.iterator.asScala.map(e => e.getKey -> e.getValue).toMap

  /** `c` as Spark ships it to a task or a broadcast. */
  private def serialized(c: Configuration): Array[Byte] = {
    val bytes = new ByteArrayOutputStream
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new SerializableConfiguration(c))
    out.close()
    bytes.toByteArray
  }

  private def deserialized(b: Array[Byte]): Configuration =
    new ObjectInputStream(new ByteArrayInputStream(b)).readObject()
      .asInstanceOf[SerializableConfiguration].value

  test("the shipped Hadoop has the field the helper replaces") {
    assert(HadoopConf.dropSources(new Configuration()))
  }

  test("the session conf and its per-query copies report no property source") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(conf.getPropertySources(key) === null)
    assert(Bridge.newHadoopConf(spark).getPropertySources(key) === null)
    conf.reloadConfiguration()
    assert(conf.get(key) != null)
    assert(conf.getPropertySources(key) === null)
    assert(Bridge.newHadoopConf(spark).getPropertySources(key) === null)
  }

  test("a conf the helper was not applied to still reports its sources") {
    val c = new Configuration()
    assert(Option(c.getPropertySources(key)).exists(_.nonEmpty))
  }

  test("dropping sources changes no value and shrinks the serialized conf by 30%+") {
    val c = new Configuration()
    val before = entries(c)
    val bytesBefore = serialized(c).length
    HadoopConf.dropSources(c)
    assert(entries(c) === before)
    c.reloadConfiguration()
    assert(entries(c) === before)
    val bytesAfter = serialized(c).length
    assert(bytesAfter <= bytesBefore * 0.7, s"$bytesBefore -> $bytesAfter bytes")
  }

  test("a per-query copy round-trips through serialization with every value") {
    val c = Bridge.newHadoopConf(spark)
    assert(entries(deserialized(serialized(c))) === entries(c))
  }
}
