package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** The exactly-once skeleton every file-stream gate shares
  * ([[QualityGate]], [[IngestGate]], [[DecontaminationGate]],
  * [[EventStreams.streamDrift]]): a parquet file source driven to
  * completion with `Trigger.AvailableNow`, each micro-batch handed to
  * the gate's `perBatch`, which writes its outputs under
  * `batch=<id>/` directories in overwrite mode so a crashed-and-retried
  * micro-batch rewrites the same paths instead of double-appending.
  *
  * Restart safety lives here too. Re-invoking with the same `outDir`
  * + `checkpointDir` RESUMES (the checkpoint skips committed files);
  * `reset = true` destroys both first. On a cold start two states are
  * refused rather than silently mishandled:
  *  - a non-empty `outDir` that is not prior gate state would be
  *    overwritten;
  *  - a checkpoint with streaming state but a fresh `outDir` would
  *    mark every already-committed input file as done and skip it,
  *    leaving the gate's tables missing those documents. */
private[graft] object FileGate {

  /** Run the gate over every `fileGlob` file under `docsDir`.
    *
    * @param marker  what makes `outDir` prior gate state: `name/`
    *                means a child named `name`; `col=` means any
    *                `col=<value>` partition directory
    * @param statefulShuffle run the stream under
    *                [[EventStreams.withStatefulShuffle]]
    * @param coldStart runs after the refusals when `outDir` holds no
    *                prior state, before the stream starts */
  def run(spark: SparkSession, docsDir: String, outDir: String,
          checkpointDir: String, fileGlob: String, reset: Boolean,
          marker: String, maxFilesPerTrigger: Option[Int] = Some(1),
          statefulShuffle: Boolean = true, coldStart: => Unit = ())
         (perBatch: (DataFrame, Long) => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val outPath = new Path(outDir)
    val ckptPath = new Path(checkpointDir)
    val outFs = outPath.getFileSystem(conf)
    val ckptFs = ckptPath.getFileSystem(conf)
    if (reset) {
      outFs.delete(outPath, true)
      ckptFs.delete(ckptPath, true)
    }
    val isMarker = (name: String) =>
      if (marker.endsWith("/")) name == marker.stripSuffix("/")
      else name.startsWith(marker)
    val children =
      if (outFs.exists(outPath)) outFs.listStatus(outPath).map(_.getPath.getName)
      else Array.empty[String]
    if (!children.exists(isMarker)) {
      if (children.nonEmpty)
        throw new IllegalArgumentException(
          s"outDir '$outDir' is non-empty and not prior gate state " +
            s"(no $marker in it); pass reset = true to overwrite it")
      if (ckptFs.exists(ckptPath) && ckptFs.listStatus(ckptPath).nonEmpty)
        throw new IllegalArgumentException(
          s"checkpointDir '$checkpointDir' has streaming state but " +
            s"outDir '$outDir' has no $marker — a cold start here " +
            "would skip every already-committed input file; pass " +
            "reset = true to start clean")
      coldStart
    }

    val schema = spark.read
      .option("pathGlobFilter", fileGlob).parquet(docsDir).schema
    val reader = spark.readStream.schema(schema)
      .option("pathGlobFilter", fileGlob)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    val stream = reader.parquet(docsDir)
    def drive(): Unit = stream.writeStream
      .foreachBatch(perBatch)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    if (statefulShuffle) EventStreams.withStatefulShuffle(spark)(drive())
    else drive()
  }
}
