package graft.streaming

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType
import graft.sources.v2.MemCatalog
import scala.util.Using

/** One bounded streaming run — the single lifecycle every streaming and
  * change-feed gate uses. A run owns:
  *  - its [[BoundedStream.streamingSession]] clone;
  *  - one scratch root (`graft-stream-<tag>-*`) holding the checkpoint,
  *    the monitored source dir and the parquet sink dir;
  *  - every query it starts.
  *
  * [[BoundedStream.run]] closes the run whether the body returns or
  * throws: it stops every query, drops the memory-sink view and deletes
  * the root. A closed run refuses to start a query, so a late caller (a
  * catalog commit hook still in flight at teardown) cannot leak one.
  *
  * All queries of a run share its checkpoint: a second [[drain]] is a
  * restart that resumes the first. Each gate names its sink — memory,
  * parquet, `toTable` or `foreachBatch` — and reads its result through
  * [[memoryRows]] / [[parquetRows]] or the table it wrote.
  */
final class BoundedStream private (val session: SparkSession, tag: String, root: Path) {
  private val owned = scala.collection.mutable.ListBuffer.empty[StreamingQuery]
  private var closed = false
  private val checkpoint = root.resolve("ckpt")
  private val sinkDir = root.resolve("sink")
  private val memoryName =
    s"graft_stream_${tag}_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  /** The monitored directory of the run's file source. */
  private lazy val source: Path = Files.createDirectory(root.resolve("src"))

  /** Parquet file stream over [[source]]: `maxFilesPerTrigger=1` makes
    * every file one micro-batch, oldest mtime first. Any fixture `ts`
    * encoding (nanos-long, TIMESTAMP_NTZ) is normalized to TimestampType
    * BEFORE watermarks — streaming event time requires it, and the
    * session zone is pinned UTC so the NTZ cast matches the oracle.
    */
  def files(schema: StructType): DataFrame =
    graft.sources.Tables.normalizeTs(session.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(source.toString))

  /** Links `file` `copies` times into [[source]] and returns [[files]]
    * over it. More than one copy is the file-source form of at-least-once
    * redelivery, and each copy is its own micro-batch.
    */
  def link(file: String, copies: Int): DataFrame = {
    (1 to copies).foreach(i =>
      Files.createSymbolicLink(source.resolve(s"copy$i.parquet"), Path.of(file)))
    files(session.read.parquet(file).schema)
  }

  /** Writes `df` into [[source]] as one file whose age sets its batch. */
  def write(df: DataFrame, name: String, ageSec: Long): Unit =
    BoundedStream.writeOneFile(df, source.resolve(name), ageSec)

  /** Memory sink; [[memoryRows]] reads it back. */
  def memory(df: DataFrame, mode: OutputMode): DataStreamWriter[Row] =
    df.writeStream.outputMode(mode).format("memory").queryName(memoryName)

  /** Append-mode parquet FILE sink; [[parquetRows]] reads it back. The
    * driver does no data work: the memory sink collects every output row
    * onto the driver per batch, the file sink commits distributed.
    */
  def parquet(df: DataFrame): DataStreamWriter[Row] =
    df.writeStream.outputMode(OutputMode.Append()).format("parquet")
      .option("path", sinkDir.toString)

  /** Starts `w` on the run's checkpoint (into `table` when given). */
  def start(w: DataStreamWriter[_], table: Option[String] = None): StreamingQuery = synchronized {
    if (closed) throw new IllegalStateException(s"bounded stream run $root is closed")
    val c = w.option("checkpointLocation", checkpoint.toString)
    val q = table.fold(c.start())(c.toTable)
    owned += q
    q
  }

  /** Start, process everything available, stop; the query's progress. */
  def drain(w: DataStreamWriter[_], table: Option[String] = None): Array[StreamingQueryProgress] = {
    val q = start(w, table)
    try q.processAllAvailable() finally q.stop()
    q.recentProgress
  }

  /** Start a self-terminating query (`Trigger.AvailableNow`) and wait
    * until it ends on its own — no `processAllAvailable`, no stop.
    */
  def awaitEnd(w: DataStreamWriter[_]): Array[StreamingQueryProgress] = {
    val q = start(w)
    q.awaitTermination()
    q.recentProgress
  }

  /** Process everything available on a long-lived query of this run. */
  def catchUp(q: StreamingQuery): Unit = q.processAllAvailable()

  /** The memory sink's table, pinned into block storage. */
  def memoryRows: DataFrame = session.table(memoryName).localCheckpoint(true)

  /** The parquet sink's committed files, pinned into block storage
    * (explicit schema: a zero-row sink has a log but no footer).
    */
  def parquetRows(schema: StructType): DataFrame =
    session.read.schema(schema).parquet(sinkDir.toString).localCheckpoint(true)

  private def close(): Unit = {
    val qs = synchronized { closed = true; owned.toList }
    try qs.foreach(_.stop())
    finally try session.catalog.dropTempView(memoryName)
    finally MemCatalog.deleteRecursively(root)
  }
}

object BoundedStream {

  /** Runs `body` on a fresh [[BoundedStream]] and closes it afterwards,
    * whether `body` returns or throws.
    */
  def run[T](spark: SparkSession, tag: String, partitions: Int = 8,
      extraConf: Map[String, String] = Map.empty)(body: BoundedStream => T): T =
    Using.resource(new BoundedStream(streamingSession(spark, partitions, extraConf), tag,
      Files.createTempDirectory(s"graft-stream-$tag-")))(body)(_.close())

  /** Per-run session CLONE (`newSession`: isolated SQLConf over the shared
    * SparkContext) for every bounded streaming run. Two reasons:
    * (1) isolation — Verify drives queries concurrently on one session, so
    * per-query toggling of session-global keys races (a concurrent
    * restore could flip a restart query's second incarnation to another
    * state-store provider mid-recovery); the RocksDB provider is pinned
    * in [[graft.Sessions]] builder options, which `newSession` inherits.
    * (2) state-store sizing — a streaming aggregation opens one state
    * store PER shuffle partition, frozen into the checkpoint at first
    * start; 32 RocksDB instances × init/commit dominated fixture-scale
    * wall time (7 s runs measured in r6) while 8 keeps the identical
    * partitioned-state posture at a quarter the fixed cost. At 100 TB
    * this knob goes UP (sized to the stream's key volume); a per-query
    * clone is where that sizing belongs either way.
    */
  private[graft] def streamingSession(spark: SparkSession, partitions: Int = 8,
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val ss = spark.newSession()
    extraConf.foreach { case (k, v) => ss.conf.set(k, v) }
    ss.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    // scan-side floor to match: the batch sessions force minPartitionNum=32
    // to widen explosive map stages, but a micro-batch reads ONE file here
    ss.conf.set("spark.sql.files.minPartitionNum", partitions.toString)
    // per-batch changelog uploads instead of full RocksDB snapshot uploads
    // — the production checkpoint posture for high-frequency triggers, and
    // it removes the snapshot cost from every fixture micro-batch
    ss.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    // MEASURED NEGATIVE (r14, do not re-try):
    // `rocksdb.trackTotalNumberOfRows=false` — the documented "first knob
    // for put-heavy state" — made the stream-stream outer join 2.3× SLOWER
    // here (5.56 → 13.0 s, 5-run medians, reproduced in both A/B orders)
    // and nudged the dedup run up too (2.2 → 2.8 s). The row-count
    // bookkeeping it skips is evidently on a path the join provider relies
    // on; the default (true) stays.
    ss
  }

  /** Writes `df` as ONE parquet file at `dest` (replacing whatever is
    * there), its mtime backdated `ageSec` seconds: a file source under
    * `maxFilesPerTrigger=1` admits files oldest first, so the ages set
    * the micro-batch schedule. Staged in a hidden sibling dir, which file
    * listings skip.
    */
  def writeOneFile(df: DataFrame, dest: Path, ageSec: Long = 0): Unit = {
    import scala.jdk.CollectionConverters._
    val stage = Files.createTempDirectory(dest.getParent, ".stage-")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Using.resource(Files.list(stage))(
        _.iterator().asScala.find(_.toString.endsWith(".parquet")).get)
      MemCatalog.deleteRecursively(dest)
      Files.move(part, dest)
      Files.setLastModifiedTime(dest, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - ageSec * 1000))
    } finally MemCatalog.deleteRecursively(stage)
  }
}
