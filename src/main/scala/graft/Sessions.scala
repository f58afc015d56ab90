package graft

import org.apache.spark.sql.SparkSession

object Sessions {
  /** The local session `Bench`, `Verify` and the test suites run the
    * registry in: `cpus` cores and as many shuffle partitions, UTC,
    * no UI, and managed tables under `warehouse`. `Cli` builds its
    * own, because it honours `--master` and reuses a live session. */
  def local(cpus: Int, warehouse: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS) — read as long nanos,
      // normalized to micros in sources.Tables.normalizeNanoTs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
}
