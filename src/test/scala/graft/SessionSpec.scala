package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The single session factory: its shape, that reading data leaves the
  * caller's session conf alone, and that nothing else constructs a session. */
class SessionSpec extends SparkSpec {

  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  test("factory session loads the extensions and sets UTC, cpus partitions, nanosAsLong") {
    // SparkSpec's shared session is Session.local(4)
    val dot = spark.sql(
      "SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").collect().head.getDouble(0)
    assert(dot === 11.0)
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get(NanosKey) === "true")
  }

  test("Tables.table sets no conf on the caller's session") {
    val dir = Files.createTempDirectory("graft-session").toString
    spark.range(3).toDF("ts").write.parquet(s"$dir/events.parquet")
    spark.range(3).toDF("doc_id").write.parquet(s"$dir/documents.parquet")
    val s = spark.newSession()
    // a caller session that never asked for nanos-as-long (a new session
    // inherits the factory's options, so clear it to model one)
    s.conf.unset(NanosKey)
    val before = s.conf.getAll
    assert(!before.contains(NanosKey))
    assert(Tables.events(s, dir).count() === 3)
    assert(Tables.documents(s, dir).count() === 3)
    assert(s.conf.getAll === before)
  }

  test("only graft/Session.scala constructs a SparkSession") {
    val call = "SparkSession" + ".builder" // split so this file does not match itself
    val hits = scala.util.Using.resource(Files.walk(Paths.get("src"))) {
      _.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains(call))
        .map(_.toString).toSet
    }
    assert(hits === Set(Paths.get("src/main/scala/graft/Session.scala").toString))
  }
}
