package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent result digest: row count plus the exact sum of one
  * 64-bit hash per row. Floating-point values are hashed as 9 (double) or
  * 6 (float) significant digits and values below 1e-9 as zero, so digests
  * do not depend on summation order; timestamps are hashed as their UTC
  * text, so NTZ and LTZ columns (a JDBC round trip turns one into the
  * other) hash alike. */
object Digest {

  final case class Value(rows: Long, hash: String) {
    /** The digest of the union of both results. */
    def +(o: Value): Value = Value(rows + o.rows, (BigInt(hash) + BigInt(o.hash)).toString)
    override def toString: String = s"$rows\t$hash"
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      val digits = if (t == FloatType) 6 else 9
      when(c.isNull, lit(null))
        .when(isnan(d), lit("NaN"))
        .when(abs(d) < 1e-9, lit("0"))
        .otherwise(format_string(s"%.${digits}g", d))
    case TimestampType | TimestampNTZType => date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  def apply(df: DataFrame): Value = {
    val cols = df.schema.fields.toIndexedSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast(DecimalType(38, 0))), lit(BigDecimal(0))))
      .head()
    Value(r.getLong(0), r.getDecimal(1).toPlainString)
  }

  /** Expected digests file: `query<TAB>rows<TAB>hash` lines. */
  def load(path: String): Seq[(String, Value)] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(f => (f(0), Value(f(1).toLong, f(2))))
}

/** Writes expected_digests.tsv: every registered query of `llm_pipeline`
  * (those for which some Spark action, run while the query is built or
  * executed, scans `documents` or `embeddings` or a cache built from them)
  * with the digest of its result as dumped by graft.Verify. */
object Expected {
  private val llmInputs = Seq("documents", "embeddings", "graft-frames", "graft-codebooks", "graft-media")

  /** Root paths of every file relation scanned by the actions it sees. */
  private final class Scans extends QueryExecutionListener {
    val paths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val markers = new java.util.concurrent.atomic.AtomicInteger(0)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      if (qe.analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Range]) markers.incrementAndGet()
      qe.analyzed.foreach {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.foreach(p => paths.add(p.toString))
          case _ =>
        }
        case _ =>
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def make(data: String, verifyDir: String, out: String, work: String): Unit = {
    val spark = Main.session(work)
    val scans = new Scans
    spark.listenerManager.register(scans)
    val lines = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      scans.paths.clear()
      val df = fn(spark, data)
      df.write.format("noop").mode("overwrite").save()
      val seen = scans.markers.get()
      spark.range(1).collect()
      while (scans.markers.get() == seen) Thread.sleep(5)
      val files = scans.paths.asScala.toSeq ++ df.inputFiles
      spark.catalog.clearCache()
      if (files.exists(f => llmInputs.exists(f.contains)))
        Some(s"$name\t${Digest(spark.read.parquet(s"$verifyDir/$name"))}")
      else None
    }
    Files.writeString(Paths.get(out),
      "# query\trows\thash: digests of graft.Verify's dump over gen_tables.py's tables, for the llm_pipeline queries\n" +
        lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
