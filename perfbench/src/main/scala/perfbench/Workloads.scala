package perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.RowHash
import graft.operators.IncrementalDedup
import graft.pipeline.{ScheduledRunner, Transfer, Window}
import graft.sources.{Connector, FileConnector}
import graft.types.UniversalType
import Main.{Args, Op}

/** A workload: its warm-up passes, its fixed per-pass operation sequence,
  * and (traced runs) standalone timings of the layers it exercises.
  */
abstract class Workload(a: Args, spark: SparkSession, tracer: Tracer) {
  def warmUp: Seq[Seq[Op]]
  def pass(p: Int): Seq[Op]
  /** Typical seconds of one warm pass on a 4-core VM; sets the number of
    * measured passes for a given `--seconds`. */
  def nominalPassS: Double
  def hasPass(p: Int): Boolean = true
  def meta: Map[String, Any] = Map.empty
  def standalone(plans: PlanListener): Seq[(String, Any)] = Seq.empty

  protected def traced(c: Connector, layer: String): Connector =
    new TracedConnector(c, layer, tracer)
  protected def files(root: String, format: String): Connector =
    new FileConnector(spark, root, format)
  protected val source: Connector = traced(files(a.fixtures, "parquet"), "sources")

  /** Median seconds of `timed` noop writes of `df` after one warm write,
    * each inside a span named `name`. */
  protected def timeNoop(name: String, timed: Int = 2)(df: => DataFrame): Double = {
    def once(): Double = tracer.span(name) {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Stats.median((1 to timed).map(_ => once()))
  }

  /** Median milliseconds of building and physically planning `df`. */
  protected def planMs(df: => DataFrame): Double =
    Stats.median((1 to 5).map { _ =>
      tracer.span("pipeline.plan") {
        val t0 = System.nanoTime()
        df.queryExecution.executedPlan
        (System.nanoTime() - t0) / 1e6
      }
    })

  /** The three layers that run only inside an incremental Transfer.run,
    * timed from outside on the operation's own inputs. */
  protected def incrementalLayers(src: => DataFrame, tgt: => DataFrame,
      plans: PlanListener): Seq[(String, Any)] = {
    val encode = timeNoop("types.stringlyBatch")(UniversalType.stringlyBatch(src))
    val hash = timeNoop("rowhash.withRowHash")(RowHash.withRowHash(src))
    val snapRows = tracer.span("dedup.snapshot_count")(IncrementalDedup.snapshot(tgt).count())
    val snap = timeNoop("dedup.snapshot")(IncrementalDedup.snapshot(tgt))
    val filter = timeNoop("dedup.filter")(IncrementalDedup.filter(src, IncrementalDedup.snapshot(tgt)))
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val broadcast = if (plans.lastPlan.contains("BroadcastHashJoin")) 1 else 0
    Seq("types.encode_s" -> encode, "rowhash.s" -> hash, "dedup.snapshot_rows" -> snapRows,
      "dedup.snapshot_s" -> snap, "dedup.filter_s" -> filter, "dedup.broadcast" -> broadcast)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

object Workloads {
  def apply(a: Args, spark: SparkSession, tracer: Tracer): Workload = a.workload match {
    case "bulk_load"         => new BulkLoad(a, spark, tracer)
    case "incremental_rerun" => new IncrementalRerun(a, spark, tracer)
    case "cron_ticks"        => new CronTicks(a, spark, tracer)
    case "query_mix"         => new QueryMix(a, spark, tracer)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Non-incremental Transfer.run of all of lineitem into a fresh TSV target. */
final class BulkLoad(a: Args, spark: SparkSession, tracer: Tracer)
    extends Workload(a, spark, tracer) {
  private val cfg = Transfer.Config("lineitem", "lineitem_out")
  private var n = 0
  private def op(): Op = {
    n += 1
    val sink = traced(files(s"${a.work}/ops/op_$n", "csv"), "sink")
    Op("pipeline.Transfer.run", "transfer", () => Some(Transfer.run(source, sink, cfg)),
      target = Some(s"${a.work}/ops/op_$n/lineitem_out.csv"))
  }
  def warmUp: Seq[Seq[Op]] = Seq(Seq(op()))
  def pass(p: Int): Seq[Op] = Seq(op())
  def nominalPassS: Double = 4.5
  override def standalone(plans: PlanListener): Seq[(String, Any)] =
    Seq("pipeline.plan_ms" -> planMs(Transfer.plan(source, cfg)))
}

/** Incremental Transfer.run of all of lineitem against a target that holds
  * a seed-chosen 95% of it, restored into a fresh directory per operation. */
final class IncrementalRerun(a: Args, spark: SparkSession, tracer: Tracer)
    extends Workload(a, spark, tracer) {
  private val cfg = Transfer.Config("lineitem", "lineitem_tgt", increment = true)
  private val seeded = Paths.get(s"${a.work}/seed/lineitem_tgt.parquet/part-seed.parquet")
  private var n = 0
  private def op(): Op = {
    n += 1
    val root = s"${a.work}/ops/op_$n"
    val dir = Paths.get(s"$root/lineitem_tgt.parquet")
    val sink = traced(files(root, "parquet"), "sink")
    Op("pipeline.Transfer.run", "transfer", () => Some(Transfer.run(source, sink, cfg)),
      prep = () => {
        Files.createDirectories(dir)
        Files.copy(seeded, dir.resolve("part-seed.parquet"))
        Map.empty
      },
      target = Some(dir.toString))
  }
  def warmUp: Seq[Seq[Op]] = Seq(Seq(op()))
  def pass(p: Int): Seq[Op] = Seq(op())
  def nominalPassS: Double = 8.5
  override def standalone(plans: PlanListener): Seq[(String, Any)] = {
    val seedTarget = files(s"${a.work}/seed", "parquet")
    Seq("pipeline.plan_ms" -> planMs(Transfer.plan(source, cfg))) ++
      incrementalLayers(Transfer.plan(source, cfg), seedTarget.read("lineitem_tgt"), plans)
  }
}

/** ScheduledRunner.tick() back to back over events: 2-hour windows that
  * advance 1 hour, incremental, into one growing parquet target. */
final class CronTicks(a: Args, spark: SparkSession, tracer: Tracer)
    extends Workload(a, spark, tracer) {
  // Tick latency falls for ~60 ticks as the JIT compiles Spark's planning
  // and executor paths (0.9 s at tick 10, 0.8 s at 20, 0.65 s at 60 on a
  // 4-core VM); 20 warm-up ticks reach the slow tail of that curve.
  val warmTicks = 20
  val passTicks = 5
  private val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val root = s"${a.work}/cron"
  private val rawSink = files(root, "parquet")
  private val sink = traced(rawSink, "sink")
  private var tick = 0

  private def window(t: Int): Window = {
    val from = t0.plusHours(a.cronStartHour + t)
    Window("ts", s"timestamp'${from.format(fmt)}'", s"timestamp'${from.plusHours(2).format(fmt)}'")
  }
  private def cfg(t: Int) = Transfer.Config("events", "events_tgt", window = Some(window(t)),
    increment = true)

  private def op(): Op = {
    val t = tick; tick += 1
    val w = window(t)
    Op("pipeline.ScheduledRunner.tick", s"tick", () => {
        val runner = new ScheduledRunner(source, sink, cfg(t), 3600L)
        try Some(runner.tick()) finally runner.stop()
      },
      prep = () =>
        if (!tracer.enabled || t == 0) Map.empty
        else Map("target_window_rows" -> tracer.span("bench.target_rows") {
          rawSink.read("events_tgt").where(w.predicate).count()
        }),
      target = Some(s"$root/events_tgt.parquet"),
      meta = Map("tick" -> t, "from" -> w.from, "to" -> w.to))
  }
  def warmUp: Seq[Seq[Op]] = Seq(Seq.fill(warmTicks)(op()))
  def pass(p: Int): Seq[Op] = Seq.fill(passTicks)(op())
  def nominalPassS: Double = 3.6
  // The events span 30 days; a pass runs only if its last window fits.
  override def hasPass(p: Int): Boolean = a.cronStartHour + tick + passTicks + 1 <= 30 * 24
  override def meta: Map[String, Any] = Map("ticks" -> tick, "warm_ticks" -> warmTicks,
    "pass_ticks" -> passTicks)
  override def standalone(plans: PlanListener): Seq[(String, Any)] = {
    val last = math.max(tick - 1, 0)
    val w = window(last)
    Seq("pipeline.plan_ms" -> planMs(Transfer.plan(source, cfg(last)))) ++
      incrementalLayers(Transfer.plan(source, cfg(last)),
        rawSink.read("events_tgt").where(w.predicate), plans)
  }
}

/** Twelve SparkEntry queries, each written to a noop sink. The first
  * warm-up pass writes every result as parquet instead, for the oracle
  * check; it takes ~22 s, the next pass ~7 s and later ones ~6 s on a
  * 4-core VM, so one more warm-up pass reaches that plateau. */
final class QueryMix(a: Args, spark: SparkSession, tracer: Tracer)
    extends Workload(a, spark, tracer) {
  private val queries = graft.SparkEntry.queries
  private val oracle = graft.SparkEntry.oracleSql
  private def op(name: String, write: DataFrame => Unit): Op =
    Op("queries.run", name, () => { write(queries(name)(spark, a.fixtures)); None })
  def warmUp: Seq[Seq[Op]] = a.queryOrder.map(n =>
    op(n, _.write.mode("overwrite").parquet(s"${a.work}/qcheck/$n"))) +: Seq(pass(0))
  def pass(p: Int): Seq[Op] = a.queryOrder.map(n =>
    op(n, _.write.format("noop").mode("overwrite").save()))
  def nominalPassS: Double = 6.0
  override def meta: Map[String, Any] =
    Map("oracle_sql" -> a.queryOrder.map(n => n -> oracle.getOrElse(n, null)).toMap)
}
