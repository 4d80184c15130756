package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col
import graft.pipeline.{Transfer, Window}
import graft.sources.{Connector, FileConnector, JdbcConnector}

/** A sink whose `write` returns without executing the plan. */
private final class DiscardingConnector extends Connector {
  def read(table: String): DataFrame = throw new NoSuchElementException(table)
  def write(df: DataFrame, target: String, mode: SaveMode): Unit = ()
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

    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val stats =
      try {
        val s = Transfer.run(src, sink, incremental("jobs", tsWindow("2024-01-03", "2024-01-07")))
        TestListenerBus.drain(sc)
        s
      } finally sc.removeSparkListener(listener)

    assert(stats.rowsFiltered > 0 && stats.rowsWritten > 0)
    assert(jobs.get <= 3, s"${jobs.get} jobs")
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty)
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
