package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Cache discipline for operators that persist intermediate tables:
  * materialize the (small) RESULT into its own cache, then release
  * the intermediates it was built from. Callers get a warm, reusable
  * result; the session does not accumulate dead intermediate storage
  * across operator invocations (a long-lived pipeline session would
  * otherwise leak one cached table per persist per call).
  */
private[graft] object CacheOps {

  /** Persist and count `result`, then unpersist `intermediates`.
    *
    * The caller owns the returned frame: it is cached, and stays
    * cached until the caller calls `unpersist()` on it. An operator
    * that returns it hands that ownership on to its own caller, so
    * its scaladoc must say the result is cached. Nothing frees it
    * otherwise; a long-lived session keeps one cached table per call.
    */
  def materializeAndRelease(result: DataFrame,
                            intermediates: DataFrame*): DataFrame = {
    val out = result.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    intermediates.foreach(_.unpersist(false))
    out
  }
}
