package graft

import java.io.IOException
import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import graft.operators.IncrementalDedup
import graft.pipeline.{Transfer, Window}
import graft.plans.ParamLiteral
import graft.sources.{Connector, FileConnector, JdbcConnector}

/** A sink whose `write` returns without executing the plan. */
private final class DiscardingConnector extends Connector {
  def read(table: String): DataFrame = throw new NoSuchElementException(table)
  def write(df: DataFrame, target: String, mode: SaveMode): Unit = ()
}

/** A sink whose reads throw, as over a dropped connection, once
  * `failing` is set; `exists` is the trait's default. */
private final class FlakyReadConnector(inner: Connector) extends Connector {
  @volatile var failing = false
  def read(table: String): DataFrame =
    if (failing) throw new IOException("connection reset") else inner.read(table)
  def write(df: DataFrame, target: String, mode: SaveMode): Unit = inner.write(df, target, mode)
}

/** M1 end-to-end: the full reference pipeline semantics (scan → project →
  * window → dedup → sink → accounting) on driver fixture data — mirrors the
  * provider/consumer mock scenarios (`provider_test.go`, `consumer_test.go`).
  */
class TransferSpec extends SparkSpec {

  test("full transfer then incremental re-run writes zero new rows") {
    val tmp = Files.createTempDirectory("graft-transfer").toString
    val src = new FileConnector(spark, sf0001)
    val sink = new FileConnector(spark, tmp)
    val cfg = Transfer.Config(
      table = "events", target = "events_out",
      fields = Seq("event_id", "user_id", "event_type", "value"),
      window = Some(Window("user_id", "0", "25")),
      increment = true)

    val first = Transfer.run(src, sink, cfg)
    assert(first.rowsWritten > 0)
    assert(first.rowsRead == first.rowsWritten) // empty target: nothing filtered

    val second = Transfer.run(src, sink, cfg)
    assert(second.rowsRead == first.rowsRead)
    assert(second.rowsWritten == 0)             // everything deduped
    assert(second.rowsFiltered == second.rowsRead)

    val total = sink.read("events_out").count()
    assert(total == first.rowsWritten)
  }

  test("cursor/window column need not be in the projected field list") {
    // Reference semantics: `SELECT <fields> WHERE cursor BETWEEN …` — the
    // cursor is not part of the projection (`clickhouse/reader/main.go:164`).
    val tmp = Files.createTempDirectory("graft-transfer2").toString
    val src = new FileConnector(spark, sf0001)
    val sink = new FileConnector(spark, tmp)
    val cfg = Transfer.Config(
      table = "events", target = "out",
      fields = Seq("event_id", "event_type", "value"), // no ts, no user_id
      window = Some(Window("ts", "timestamp'2024-01-01'", "timestamp'2024-01-08'")),
      orderBy = Seq("user_id DESC"),                   // sort col not projected
      increment = true)
    val first = Transfer.run(src, sink, cfg)
    assert(first.rowsWritten > 0)
    assert(sink.read("out").columns.toSeq == Seq("event_id", "event_type", "value"))
    // Second incremental run: target lacks ts, snapshot skips the window.
    val second = Transfer.run(src, sink, cfg)
    assert(second.rowsWritten == 0)
  }

  test("window predicate filters the cursor range") {
    val src = new FileConnector(spark, sf0001)
    val all = Transfer.plan(src, Transfer.Config("events", "x")).count()
    val windowed = Transfer.plan(src, Transfer.Config("events", "x",
      window = Some(Window("ts", "timestamp'2024-01-01'", "timestamp'2024-01-08'")))).count()
    assert(windowed > 0 && windowed < all)
  }

  private val fields = Seq("event_id", "ts", "user_id", "event_type", "value")
  private def tsWindow(from: String, to: String) =
    Window("ts", s"timestamp'$from 00:00:00'", s"timestamp'$to 00:00:00'")
  private def incremental(target: String, w: Window) =
    Transfer.Config("events", target, fields = fields, window = Some(w), increment = true)

  /** Two incremental runs over windows that overlap by half. */
  private def checkSlidingWindow(sink: Connector): Unit = {
    val src = new FileConnector(spark, sf0001)
    val w1 = tsWindow("2024-01-01", "2024-01-05")
    val w2 = tsWindow("2024-01-03", "2024-01-07")
    val first = Transfer.run(src, sink, incremental("slide", w1))
    val second = Transfer.run(src, sink, incremental("slide", w2))
    val union = src.read("events").where(w1.predicate || w2.predicate)
      .select(fields.map(col): _*).distinct().count()

    assert(first.rowsRead > 0 && first.rowsFiltered == 0)
    assert(first.rowsWritten == first.rowsRead)
    assert(second.rowsFiltered > 0 && second.rowsFiltered < second.rowsRead)
    assert(second.rowsFiltered + second.rowsWritten == second.rowsRead)
    assert(first.rowsWritten + second.rowsWritten == union)
    assert(sink.read("slide").count() == union)
  }

  test("RunStats over half-overlapping windows, parquet sink") {
    checkSlidingWindow(new FileConnector(spark,
      Files.createTempDirectory("graft-slide").toString))
  }

  test("RunStats over half-overlapping windows, JDBC sink") {
    val dir = Files.createTempDirectory("graft-slide-derby").toString
    checkSlidingWindow(new JdbcConnector(spark, s"jdbc:derby:$dir/db;create=true"))
  }

  test("a sink whose write skips the plan fails instead of hanging") {
    val sink = new DiscardingConnector
    val e = intercept[IllegalStateException] {
      Transfer.run(new FileConnector(spark, sf0001), sink, Transfer.Config("events", "x"))
    }
    assert(e.getMessage.contains(classOf[DiscardingConnector].getName))
  }

  test("an incremental run into an existing target is at most 3 jobs and caches nothing") {
    val src = new FileConnector(spark, sf0001)
    val sink = new FileConnector(spark, Files.createTempDirectory("graft-jobs").toString)
    Transfer.run(src, sink, incremental("jobs", tsWindow("2024-01-01", "2024-01-05")))
    spark.catalog.clearCache()

    val (stats, jobs) =
      jobsOf(Transfer.run(src, sink, incremental("jobs", tsWindow("2024-01-03", "2024-01-07"))))

    assert(stats.rowsFiltered > 0 && stats.rowsWritten > 0)
    assert(jobs <= 3, s"$jobs jobs")
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty)
  }

  test("a target that exists but fails to read fails the run instead of appending again") {
    val src = new FileConnector(spark, sf0001)
    val sink = new FlakyReadConnector(
      new FileConnector(spark, Files.createTempDirectory("graft-flaky").toString))
    val cfg = incremental("flaky", tsWindow("2024-01-01", "2024-01-05"))
    val first = Transfer.run(src, sink, cfg)
    assert(first.rowsWritten > 0)
    sink.failing = true
    val e = intercept[IOException](Transfer.run(src, sink, cfg))
    assert(e.getMessage == "connection reset")
    sink.failing = false
    assert(sink.read("flaky").count() == first.rowsWritten)
  }

  test("exists answers from storage without a Spark job, file and JDBC") {
    val dir = Files.createTempDirectory("graft-exists").toString
    for (c <- Seq(new FileConnector(spark, dir),
        new JdbcConnector(spark, s"jdbc:derby:$dir/db;create=true"))) {
      assert(jobsOf(c.exists("ex")) == ((false, 0)), c)
      c.write(spark.range(3).toDF("id"), "ex")
      assert(jobsOf(c.exists("ex")) == ((true, 0)), c)
    }
  }

  /** A session with graft's extensions, so scan filters are parameterized. */
  private def graftSession(): SparkSession = {
    val s = spark.newSession()
    GraftExtensions.register(s)
    s
  }

  test("an incremental run over a new window compiles no new code") {
    val s = graftSession()
    val src = new FileConnector(s, sf0001)
    val sink = new FileConnector(s, Files.createTempDirectory("graft-codegen").toString)
    def run(from: String, to: String) =
      Transfer.run(src, sink, incremental("cg", tsWindow(from, to)))
    run("2024-01-01", "2024-01-05") // creates the target
    run("2024-01-03", "2024-01-07") // warm: first plan with the dedup join
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val stats = run("2024-01-05", "2024-01-09")
    assert(stats.rowsFiltered > 0 && stats.rowsWritten > 0)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles == 0)
  }

  test("both scans keep the window bounds in PushedFilters") {
    val w = tsWindow("2024-01-03", "2024-01-07")
    val cfg = incremental("pushed", w)
    val dir = Files.createTempDirectory("graft-pushed").toString
    new FileConnector(spark, dir).write(
      Transfer.plan(new FileConnector(spark, sf0001), cfg), "pushed")
    /** (scanned path, PushedFilters) of both scans, and the scan filters. */
    def scans(s: SparkSession) = {
      val tgt = new FileConnector(s, dir).read("pushed").where(w.predicate)
      val df = IncrementalDedup.filter(Transfer.plan(new FileConnector(s, sf0001), cfg),
        IncrementalDedup.hashes(tgt))
      df.collect()
      val plan = df.queryExecution.executedPlan
      (ScanFilterParamSpec.collect(plan) { case f: FileSourceScanExec =>
          (f.relation.location.rootPaths.mkString, f.metadata("PushedFilters")) }.sorted,
        ScanFilterParamSpec.scanFilters(plan))
    }
    val (plain, _) = scans(spark.newSession())
    val (pushed, filters) = scans(graftSession())
    assert(pushed == plain)
    assert(pushed.length == 2)
    pushed.foreach { case (path, f) =>
      assert(f.contains("2024-01-03") && f.contains("2024-01-07"), s"$path: $f")
    }
    assert(filters.length == 2)
    filters.foreach(c => assert(c.collect { case p: ParamLiteral => p }.length == 2, c))
  }

  test("an empty source window counts zero, broadcast or shuffled dedup join") {
    // Without the cursor column in the target, the build side is the
    // whole (non-empty) target while the probe side is empty.
    val src = new FileConnector(spark, sf0001)
    val sink = new FileConnector(spark, Files.createTempDirectory("graft-empty").toString)
    def cfg(w: Window) = Transfer.Config("events", "empty",
      fields = Seq("event_id", "value"), window = Some(w), increment = true)
    assert(Transfer.run(src, sink, cfg(tsWindow("2024-01-01", "2024-01-05"))).rowsWritten > 0)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(key)
    for (threshold <- Seq("10MB", "-1")) {
      spark.conf.set(key, threshold)
      try {
        val stats = Transfer.run(src, sink, cfg(tsWindow("2030-01-01", "2030-01-02")))
        assert((stats.rowsRead, stats.rowsFiltered, stats.rowsWritten) == (0L, 0L, 0L))
      } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }
}
