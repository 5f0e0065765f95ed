package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Verify, Bench, the tools
  * and the test suites all get the same shape from here, so a correctness
  * check and a timing describe the same engine:
  *
  *   - `local[cpus]` with `cpus` shuffle partitions;
  *   - UTC session time zone (every derived timestamp is NTZ; see Tables);
  *   - UI off;
  *   - the engine's session extensions ([[graft.plans.GraftExtensions]]),
  *     which are part of the product: a user's session loads them too;
  *   - `spark.sql.legacy.parquet.nanosAsLong`: testdata generations have
  *     shipped `events.ts` as parquet TIMESTAMP(NANOS), which Spark's
  *     vectorized reader rejects; read as BIGINT epoch-nanos instead, and
  *     [[Tables.events]] canonicalizes every accepted `ts` type to that.
  *
  * `extraConf` is applied last, so a caller overrides any of the above
  * (e.g. `spark.master` for task retries) and adds only the settings in
  * which it really differs. */
object Session {
  def local(cpus: Int, extraConf: (String, String)*): SparkSession =
    extraConf.foldLeft(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .withExtensions(new graft.plans.GraftExtensions)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
}
