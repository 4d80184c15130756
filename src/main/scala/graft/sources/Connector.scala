package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** S1: the reference's universal storage connection (`/root/reference/etl.go:12-14`)
  * — one interface both reads batches and executes writes. In Spark the two
  * directions are a `DataFrameReader`/`DataFrameWriter` pair, so the trait
  * splits `Do(query)` into `read` and `write`.
  */
trait Connector {
  /** Read a table into a DataFrame (schema inferred from the source,
    * mirroring the reference's per-query schema discovery, §1.2). */
  def read(table: String): DataFrame

  /** Append rows to a target table (the reference's bulk INSERT, §2.8).
    * Must execute `df` itself: `Transfer.run` takes its row counts from
    * that execution. */
  def write(df: DataFrame, target: String, mode: SaveMode = SaveMode.Append): Unit
}

/** File-based connector (parquet/csv/json directories) — used for the
  * driver fixtures and as the TSV-ish sink path. One table = one path
  * under `root`.
  */
final class FileConnector(spark: SparkSession, root: String, format: String = "parquet")
    extends Connector {

  private def path(table: String) = s"$root/$table.$format"

  def read(table: String): DataFrame = format match {
    case "parquet" => Tables.load(spark, root, table)
    case "csv"     => spark.read.option("header", "true").option("sep", "\t")
      .option("inferSchema", "true").csv(path(table))
    case "json"    => spark.read.json(path(table))
    case other     => spark.read.format(other).load(path(table))
  }

  def write(df: DataFrame, target: String, mode: SaveMode = SaveMode.Append): Unit = format match {
    case "csv" =>
      // W1 TSV sanitization lives in the TSV sink path only
      // (`clickhouse/types/types.go:60`): tab → 4 spaces.
      import org.apache.spark.sql.functions.{col, regexp_replace}
      val sanitized = df.select(df.schema.fields.map { f =>
        if (f.dataType == org.apache.spark.sql.types.StringType)
          regexp_replace(col(f.name), "\t", "    ").as(f.name)
        else col(f.name)
      }.toIndexedSeq: _*)
      // Header on: the reader is configured header=true, and headerless
      // part files would each lose their first DATA row to header parsing.
      sanitized.write.mode(mode).option("sep", "\t").option("header", "true")
        .csv(path(target))
    case fmt => df.write.mode(mode).format(fmt).save(path(target))
  }
}

/** S2/S3/K1/K2: JDBC connector for MySQL/ClickHouse-shaped storages.
  *
  * Replaces the reference's hand-rolled LIMIT/OFFSET pagination
  * (`clickhouse/reader/main.go:155-167` — O(n²) cumulative rescans) with
  * Spark's partitioned JDBC scan: `partitionColumn/lowerBound/upperBound/
  * numPartitions` generate disjoint range predicates, each executed by one
  * task, with definite extent (no read-until-empty probe needed,
  * `provider.go:132-136`).
  *
  * Writes use prepared-statement batching (`batchsize`) — strictly safer
  * than the reference's string-spliced INSERT text
  * (`mysql/writer/main.go:98-132`), and W2 quoting/escaping disappears.
  */
final class JdbcConnector(
    spark: SparkSession,
    url: String,
    user: String = "",
    password: String = "",
    fetchSize: Int = 1000,   // reference default page size, `-batch` flag
    batchSize: Int = 1000,
    numPartitions: Int = 32,
    partitionColumn: Option[String] = None,
    lowerBound: Option[String] = None,
    upperBound: Option[String] = None,
    // Appended to CREATE TABLE on first write. ClickHouse REQUIRES an
    // engine clause (`CREATE TABLE … ENGINE = MergeTree ORDER BY …`),
    // so jdbc:clickhouse URLs default to an unordered MergeTree — the
    // reference's CH writer creates tables out of band and never hits
    // this; Spark's JDBC writer owns DDL, so the connector must.
    createTableOptions: String = "",
) extends Connector {

  // ClickHouse URLs get the reference's type semantics (S3) via the
  // registered dialect; other URLs use Spark's stock dialects.
  if (ClickHouseDialect.canHandle(url)) ClickHouseDialect.register()

  private def base = {
    var r = spark.read.format("jdbc")
      .option("url", url)
      .option("fetchsize", fetchSize)
    if (user.nonEmpty) r = r.option("user", user).option("password", password)
    r
  }

  def read(table: String): DataFrame = {
    var r = base.option("dbtable", table)
    (partitionColumn, lowerBound, upperBound) match {
      case (Some(c), Some(lo), Some(hi)) =>
        r = r.option("partitionColumn", c).option("lowerBound", lo)
          .option("upperBound", hi).option("numPartitions", numPartitions)
      case _ => ()
    }
    r.load()
  }

  /** Arbitrary pushed-down query (the reference passes raw SQL through to the
    * engine — `fields`/`window` splicing, §2.6); Spark pushes the whole query
    * text to the source.
    */
  def readQuery(query: String): DataFrame = base.option("query", query).load()

  def write(df: DataFrame, target: String, mode: SaveMode = SaveMode.Append): Unit = {
    var w = df.write.format("jdbc").mode(mode)
      .option("url", url)
      .option("dbtable", target)
      .option("batchsize", batchSize)
      .option("rewriteBatchedStatements", "true")
    val cto =
      if (createTableOptions.nonEmpty) createTableOptions
      else if (ClickHouseDialect.canHandle(url)) "ENGINE = MergeTree ORDER BY tuple()"
      else ""
    if (cto.nonEmpty) w = w.option("createTableOptions", cto)
    if (user.nonEmpty) w = w.option("user", user).option("password", password)
    w.save()
  }
}
