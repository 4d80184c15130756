package graft.pipeline

import java.util.concurrent.TimeoutException
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.control.NonFatal
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._
import graft.operators.IncrementalDedup
import graft.sources.Connector

/** Cursor-window range predicate — the reference's `-window column:from:to`
  * CLI concept (`/root/reference/clickhouse/reader/main.go:32,141-146`):
  * `WHERE cursor BETWEEN from AND to`, where from/to are raw SQL expressions
  * evaluated by the engine (`toDate('…')`, `today()` pass through —
  * `clickhouse/reader/main_test.go:44-49`). `expr()` gives the same
  * pass-through power with Catalyst's function library.
  */
final case class Window(column: String, from: String, to: String) {
  def predicate: Column = col(column).between(expr(from), expr(to))
}

/** O1 ORDER BY passthrough: parse the reference's verbatim sort text
  * (`-order 'col [DESC][,col2]'`, `clickhouse/reader/main.go:30,149-153`)
  * into Catalyst sort columns. A bare `expr("col DESC")` would silently
  * parse DESC as an alias, so direction suffixes are handled explicitly.
  */
object SortSpec {
  def parse(s: String): Column = {
    val t = s.trim
    val l = t.toLowerCase
    if (l.endsWith(" desc")) expr(t.dropRight(5)).desc
    else if (l.endsWith(" asc")) expr(t.dropRight(4)).asc
    else expr(t)
  }
  def parseList(order: String): Seq[Column] =
    order.split(",").toIndexedSeq.filter(_.trim.nonEmpty).map(parse)
}

/** Per-run accounting — the reference's `Status` stream + log counters
  * (`provider.go:231-239`, `consumer.go:197-205`, `contract.proto:46-53`).
  */
final case class RunStats(
    rowsRead: Long,
    rowsFiltered: Long,
    rowsWritten: Long,
    durationMs: Long,
)

/** One scheduled-run pipeline (§3.1 of SURVEY.md): scan → project → window
  * filter → order → (incremental anti-join dedup) → sink, with row
  * accounting. This is the whole of the reference's provider+consumer pair
  * collapsed into a single Spark job — the gRPC exchange was an artifact of
  * its two-process architecture, not a query semantic.
  *
  * Scale notes (100 TB):
  *   - projection + window predicate are applied before any wide op, so
  *     Catalyst pushes them into the scan (PushedFilters / ReadSchema);
  *   - the dedup anti-join's build side is the target window's raw row
  *     hashes (no `distinct()`, so no aggregation shuffle); AQE/Catalyst
  *     broadcast it when the window is small and shuffle-join otherwise;
  *   - a run is ONE Spark action, the sink write: the source is scanned
  *     once, nothing is cached, and the row counts are observed metrics
  *     (`Dataset.observe`) computed by that same write job, never by a
  *     separate count() or collect();
  *   - a scheduled tick re-plans the same query with new window bounds.
  *     On a session with `GraftExtensions` registered, the bounds reach
  *     the scans' generated filter code as parameters
  *     (`ScanFilterParamStrategy`), so every tick after the first reuses
  *     the compiled classes, while `PushedFilters` keep the real bounds;
  *   - a parquet target that only grew since the last tick is re-read
  *     with the schema `Tables.load` already holds: no inference job, so
  *     a tick is two jobs, the broadcast of the target hashes and the
  *     write.
  */
object Transfer {

  final case class Config(
      table: String,
      target: String,
      fields: Seq[String] = Seq.empty,     // P1; empty = '*'
      window: Option[Window] = None,       // P2
      orderBy: Seq[String] = Seq.empty,    // O1 (kept for API parity)
      increment: Boolean = false,          // P3/J1 incremental dedup
      mode: SaveMode = SaveMode.Append,
  )

  /** Build the source-side plan (no action triggered). Window and ORDER BY
    * apply BEFORE the projection — the reference's generated SQL is
    * `SELECT <fields> … WHERE cursor … ORDER BY …`, where the cursor/sort
    * columns need not be in the field list. Catalyst prunes the scan to
    * the union of referenced columns either way.
    */
  def plan(source: Connector, cfg: Config): DataFrame = {
    var df = source.read(cfg.table)
    cfg.window.foreach(w => df = df.where(w.predicate))
    if (cfg.orderBy.nonEmpty) df = df.orderBy(cfg.orderBy.map(SortSpec.parse): _*)
    if (cfg.fields.nonEmpty) df = df.select(cfg.fields.map(col): _*)
    df
  }

  /** How long [[run]] waits, after the sink's write returns, for the
    * write job's observed row counts to arrive. They travel on Spark's
    * listener bus, normally within milliseconds; a connector whose `write`
    * never executes the plan it was given would otherwise block forever.
    */
  private val ObservedCountsTimeout: FiniteDuration = 30.seconds

  /** Run one transfer; returns the reference-parity accounting. */
  def run(source: Connector, sink: Connector, cfg: Config): RunStats = {
    val t0 = System.nanoTime()
    val readObs = Observation("graft_rows_read")
    val writtenObs = Observation("graft_rows_written")
    val src = plan(source, cfg).observe(readObs, count(lit(1)).as("rows"))

    val deduped =
      if (!cfg.increment) src
      else {
        // Snapshot the SAME window/field list on the target so hashes align
        // (`provider.go:165`, `consumer.go:82`). A projected target may not
        // contain the cursor column (only `fields` were ever written); then
        // the window is skipped and the snapshot covers the whole target —
        // a superset of hashes, still correct for dedup (the reference
        // would error on the missing column instead). Only a target that
        // does not exist is an empty snapshot: one that exists but fails
        // to read fails the run, as skipping dedup would append the
        // window again.
        val target =
          try Some(sink.read(cfg.target))
          catch { case NonFatal(_) if !sink.exists(cfg.target) => None }
        target.fold(src) { t =>
          var tgt = t
          cfg.window.foreach { w =>
            if (tgt.columns.contains(w.column)) tgt = tgt.where(w.predicate)
          }
          if (cfg.fields.nonEmpty) tgt = tgt.select(cfg.fields.map(col): _*)
          IncrementalDedup.filter(src, IncrementalDedup.hashes(tgt))
        }
      }

    // The write is the run's only action. Both counts are observed by the
    // job that performs it, so they describe exactly the rows this run
    // scanned and wrote — a self-append or a concurrently mutated source
    // cannot skew them (rowsFiltered never goes negative).
    sink.write(deduped.observe(writtenObs, count(lit(1)).as("rows")), cfg.target, cfg.mode)
    val read = observedCount(readObs, sink)
    val written = observedCount(writtenObs, sink)
    RunStats(
      rowsRead = read,
      rowsFiltered = read - written,
      rowsWritten = written,
      durationMs = (System.nanoTime() - t0) / 1000000,
    )
  }

  private def observedCount(obs: Observation, sink: Connector): Long = {
    val row =
      try Await.result(obs.future, ObservedCountsTimeout)
      catch {
        case _: TimeoutException => throw new IllegalStateException(
          s"${sink.getClass.getName}.write returned without executing the " +
            s"plan it was given: no '${obs.name}' count after $ObservedCountsTimeout")
      }
    // AQE drops a subtree that materialized empty (an empty probe side of
    // a shuffled anti-join) from the final plan; an observation inside it
    // then completes with an empty row, and its count is zero.
    if (row.length == 0) 0L else row.getAs[Long]("rows")
  }
}
