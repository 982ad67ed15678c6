package graft

import org.apache.spark.sql.SparkSession

/** The one session policy of every main: `local[n]` with n from
  * `SPARK_GRAFT_CPUS` (the caller's `defaultCpus` when unset), one
  * shuffle partition per core, UTC session time, nanosecond parquet
  * timestamps read as longs (the corpus carries them), no UI and WARN
  * logging. The test suite builds its own shared session
  * (`TestSpark`): `getOrCreate` here would re-configure it. */
object LocalSession {
  def start(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
