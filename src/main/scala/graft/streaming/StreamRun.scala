package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.FileTime
import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{max, min}
import org.apache.spark.sql.streaming.DataStreamWriter

/** The one place a finite streaming query runs: every live twin declares
  * its query and hands it here to be started, drained and stopped. Each
  * run gets the stream width and cleans up after itself on success and on
  * failure alike: sink views, session conf and replay files. The state
  * store is the session's own `spark.sql.streaming.stateStore.providerClass`
  * (RocksDB keeps unbounded keyed state off-heap); a run never changes it.
  */
object StreamRun {

  /** Stateful queries get one state-store instance per shuffle partition,
    * and every micro-batch commits a delta file per instance, so the
    * width is a per-commit IO cost. The batch default (32, matched to
    * local[32]) wastes 4x the checkpoint IO these ~10k-key fixtures need.
    */
  private val Width = 8

  /** Run `df` into a memory sink in output `mode` until drained and
    * return the sink's rows. Dataset analysis is eager, so the frame stays
    * bound to those rows after the sink's temp view is dropped; the view
    * would otherwise keep every emitted row on the driver for the life of
    * the session, one copy per run.
    */
  def collect(df: DataFrame, mode: String): DataFrame = {
    val spark = df.sparkSession
    val sink = "stream_" + UUID.randomUUID().toString.replace("-", "")
    try {
      drain(spark, df.writeStream.format("memory").queryName(sink).outputMode(mode))
      spark.table(sink)
    } finally spark.catalog.dropTempView(sink)
  }

  /** Start a `foreachBatch` or file-sink query, process everything its
    * source holds, then stop it. Streaming plans bind the shuffle width
    * at `start()`, so the width is lowered only around the run.
    */
  def drain(spark: SparkSession, writer: DataStreamWriter[Row]): Unit = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", Width.toString)
    try {
      val q = writer.start()
      try q.processAllAvailable() finally q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Stage `files` as one parquet file each in a fresh temp dir, run
    * `body` on that dir, then delete it. The file source lists unread
    * files oldest-first, so file i is aged to replay in list order. The
    * files are written concurrently: each is a tiny coalesce(1) job whose
    * task tail would otherwise leave the other cores idle.
    *
    * Driver-local by design: the staged files are a single-process
    * verification run's replay input, not operator state. A deployment's
    * source, sink and checkpoint live on shared storage, and operator
    * state that must survive distribution goes through graft.model.Spill.
    */
  def replay[T](prefix: String, files: Seq[DataFrame])(body: String => T): T = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val src = Files.createTempDirectory(prefix)
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(files.size)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try files.zipWithIndex.map { case (df, i) =>
        Future {
          val name = f"batch$i%02d.parquet"
          graft.Daemon.stageSlice(df, src.toString, name)
          Files.setLastModifiedTime(src.resolve(name), FileTime.fromMillis(
            System.currentTimeMillis() - (files.size - i) * 10000L))
        }
      }.foreach(Await.result(_, Duration.Inf))
      finally pool.shutdown()
      body(src.toString)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(src.toFile)
  }

  /** `df` cut into three replay files on the tertiles of `key`'s range,
    * so per-key state genuinely carries across micro-batch boundaries.
    */
  private[streaming] def tertiles(df: Dataset[_], key: Column): Seq[DataFrame] = {
    val r = df.agg(min(key), max(key)).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    Seq(df.filter(key <= c1), df.filter(key > c1 && key <= c2), df.filter(key > c2))
      .map(_.toDF())
  }
}
