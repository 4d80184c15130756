package graft.sources

import java.io.FileNotFoundException
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

/** Fixture-table loader that normalizes every parquet timestamp encoding
  * to one engine-internal type: session-TZ `TimestampType`.
  *
  * Parquet writers vary: TIMESTAMP(NANOS) (no Spark equivalent — with
  * `spark.sql.legacy.parquet.nanosAsLong=true` it arrives as a raw Long of
  * nanos-since-epoch), TIMESTAMP(MICROS, isAdjustedToUTC=false) (arrives
  * as `TimestampNTZType`), and TIMESTAMP(MICROS, isAdjustedToUTC=true)
  * (arrives as `TimestampType`). Downstream operators do micros arithmetic
  * (`unix_micros`) and event-time streaming (`withWatermark`), both of
  * which require `TimestampType` — so the loader folds all three encodings
  * into it:
  *
  *  - NANOS: rebuilt via `timestamp_micros(col div 1000)` — a floor to
  *    microseconds, exactly what DuckDB's `CAST(ts_ns AS TIMESTAMP)` does,
  *    keeping the oracle comparison aligned.
  *  - NTZ: `cast(TimestampType)`. The session time zone is pinned UTC in
  *    every entry point, so the cast reinterprets the same wall-clock
  *    micros value as the same instant — the identity the DuckDB oracle
  *    (which is TZ-naive) already assumes.
  *
  * Mirrors the reference's own datetime funneling, which converts every
  * MySQL temporal type to one canonical ClickHouse DateTime
  * (reference: clickhouse/types/types.go:24-35).
  */
object Tables {

  /** Fold every `TimestampNTZType` column of `df` into session-TZ
    * `TimestampType` (identity under the pinned-UTC session).
    */
  def normalizeNtz(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == TimestampNTZType)
        d.withColumn(f.name, col(f.name).cast(TimestampType))
      else d
    }

  /** Column names in `path` whose parquet logical type is TIMESTAMP(NANOS). */
  def nanosTimestampCols(spark: SparkSession, path: String): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(p).isFile) p
      else fs.listStatus(p).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).getOrElse(return Seq.empty)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      import scala.jdk.CollectionConverters._
      reader.getFileMetaData.getSchema.getFields.asScala.collect {
        case f if f.isPrimitive &&
          (f.getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit == TimeUnit.NANOS
            case _ => false
          }) => f.getName
      }.toSeq
    } finally reader.close()
  }

  // Footer-sniff memo: nanosTimestampCols opens and parses the parquet
  // footer ON THE DRIVER per call, and every query calls load() 1-5
  // times per construction — tens of ms of serial driver latency per
  // query run for metadata that cannot change under a session. Keyed by
  // absolute path; schema METADATA only (never data or results), the
  // same thing Spark's own FileIndex/footer caches memoize.
  private val nanosColsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  // Plan-fragment memo: building a fixture DataFrame costs a driver file
  // listing plus, when the schema must be inferred, a 1-task
  // schema-inference JOB — measured ~20-40 ms of serial driver latency
  // each, and every query construction calls load() 1-5 times, EVERY
  // run. The resolved logical plan is session-scoped METADATA (schema +
  // file index), exactly what a catalog table caches; the parquet DATA is
  // re-scanned by every action, so no result ever persists across runs.
  // Keyed per (session, path): Bench/Verify each hold one session.
  //
  // The file index inside a memoized plan is frozen at the listing it was
  // built from, so each entry carries that listing's signature (every
  // file's path, length and mtime). load() re-lists the path (file-system
  // metadata calls only, no job) and rebuilds the entry when the signature
  // has changed: a sink target appended to between two reads must show
  // the new files. An unchanged fixture keeps its entry. A listing that
  // only GAINED data files (an append) is rebuilt with the entry's raw
  // schema instead of inferring it again, so it starts no job either;
  // any other change (a rewrite, a deleted or modified file) infers anew.
  // One schema per path is what nanosColsMemo already assumes.
  private final case class Memo(files: Seq[(String, Long, Long)], schema: StructType,
      df: DataFrame)
  private val dfMemo = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Memo]()

  /** (path, length, mtime) of every file under `path`, sorted; empty when
    * the path does not exist (the read then fails as it would unmemoized).
    * Walks with listStatus: the local file system's recursive listFiles
    * also resolves block locations, ~100x slower on a single file.
    */
  private def listing(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(f: FileStatus): Seq[(String, Long, Long)] =
      if (f.isDirectory) fs.listStatus(f.getPath).toSeq.flatMap(walk)
      else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
    try walk(fs.getFileStatus(p)).sorted
    catch { case _: FileNotFoundException => Seq.empty }
  }

  /** Data files of a listing: Spark's reader skips `_SUCCESS`, `.crc`
    * and every other name starting with `_` or `.`. */
  private def dataFiles(files: Seq[(String, Long, Long)]): Seq[(String, Long, Long)] =
    files.filter { case (f, _, _) => val n = new Path(f).getName
      !n.startsWith("_") && !n.startsWith(".") }

  /** Load `dir/name.parquet` with every timestamp encoding (NANOS-as-long,
    * NTZ-micros, LTZ-micros) normalized to session-TZ TimestampType.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val files = listing(spark, path)
    dfMemo.compute((spark, path), { (_, memo) =>
      if (memo != null && memo.files == files) memo
      else {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val appended = memo != null && dataFiles(memo.files).toSet.subsetOf(dataFiles(files).toSet)
        val df =
          if (appended) spark.read.schema(memo.schema).parquet(path)
          else spark.read.parquet(path)
        val nanosCols = nanosColsMemo.computeIfAbsent(path,
          p => nanosTimestampCols(spark, p))
        Memo(files, df.schema, normalizeNtz(nanosCols.foldLeft(df) { (d, c) =>
          d.withColumn(c, expr(s"timestamp_micros(`$c` div 1000)"))
        }))
      }
    }).df
  }

  /** Guard for CPU-bound narrow transforms (shingling, fingerprinting,
    * per-row hashing, brute-force vector scans): parquet scans cannot
    * split a row group, so a table written as few large row groups scans
    * as few tasks no matter how many cores exist — a single-file
    * single-row-group input runs the whole downstream map SINGLE-THREADED
    * while the rest of the cluster idles.
    *
    * If (and only if) the scan's partition count is under half the
    * default parallelism, redistribute rows round-robin across the
    * executors. On real many-file inputs (any 100 TB table) the
    * condition is false and this is a no-op — the shuffle cost is only
    * ever paid on inputs small enough that it is trivially cheap, and
    * only ahead of compute heavy enough to dwarf it.
    */
  def rebalanceForCompute(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < math.max(2, target / 2))
      df.repartition(target)
    else df
  }

  /** Lazy lineage cut for a frame that will be REFERENCED more than once
    * in a bigger plan (a broadcast stats row feeding two consumers, an
    * iteration's working set): without it every reference re-derives the
    * frame's whole subplan. `eager = false` keeps the caller's plan
    * lazy — materialization happens inside the caller's single action,
    * later references reading the first evaluation's blocks. Reliable
    * checkpoint storage when the session has a checkpoint dir (blocks
    * survive executor loss — the 1000-executor default), local blocks
    * otherwise. Same policy as the Graph/Clusters iteration cuts.
    */
  def cutLineage(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = false)
    else df.localCheckpoint(eager = false)
}
