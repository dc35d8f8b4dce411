package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.dsl.PTable
import graft.types.{FK, TableMeta}

/** Source layer: parquet/csv/json readers that attach engine metadata
  * (pk/fk) to the resulting PTable — the analogue of the reference's
  * `import_table` + schema reflection (reference:
  * preql/core/pql_functions.py:689-711, sql_interface.py:431-456).
  *
  * The TPC-H-ish testdata FK graph mirrors the reference's
  * Person→Country fixture chain (customer→nation→region).
  */
object Tables {

  val metas: Map[String, TableMeta] = Map(
    "region" -> TableMeta("region", pk = Seq("r_regionkey")),
    "nation" -> TableMeta("nation", pk = Seq("n_nationkey"),
      fks = Seq(FK("n_regionkey", "region", "r_regionkey"))),
    "customer" -> TableMeta("customer", pk = Seq("c_custkey"),
      fks = Seq(FK("c_nationkey", "nation", "n_nationkey"))),
    "supplier" -> TableMeta("supplier", pk = Seq("s_suppkey"),
      fks = Seq(FK("s_nationkey", "nation", "n_nationkey"))),
    "part" -> TableMeta("part", pk = Seq("p_partkey")),
    "orders" -> TableMeta("orders", pk = Seq("o_orderkey"),
      fks = Seq(FK("o_custkey", "customer", "c_custkey"))),
    "lineitem" -> TableMeta("lineitem",
      pk = Seq("l_orderkey", "l_linenumber"),
      fks = Seq(
        FK("l_orderkey", "orders", "o_orderkey"),
        FK("l_partkey", "part", "p_partkey"),
        FK("l_suppkey", "supplier", "s_suppkey"))),
    "events" -> TableMeta("events", pk = Seq("event_id")),
    "documents" -> TableMeta("documents", pk = Seq("doc_id")),
    "embeddings" -> TableMeta("embeddings", pk = Seq("vec_id"))
  )

  /** Read one testdata table with its metadata attached. */
  def load(spark: SparkSession, dir: String, name: String): PTable =
    PTable(loadRaw(spark, s"$dir/$name.parquet"),
      metas.getOrElse(name, TableMeta(name)))

  // Raw parquet schema per (file identity, nanosAsLong): a load skips the
  // schema-inference Spark job but still builds a fresh plan of its own.
  private val schemaCache = new MetaCache[StructType]()

  /** Nanosecond parquet timestamps (Spark can't represent them) are
    * read as long nanos via `spark.sql.legacy.parquet.nanosAsLong`
    * and truncated here to microsecond timestamps with exact integer
    * division (`div`) — double division would lose precision on
    * ~1.7e18 nano epochs.
    */
  private def loadRaw(spark: SparkSession, path: String): DataFrame = {
    val id =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        Some(Fs.fileId(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(p)))
      } catch { case _: Exception => None }
    val nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    val reader = id match {
      case Some(i) => spark.read.schema(
        schemaCache.getOrLoad(s"$i#$nanos")(spark.read.parquet(path).schema))
      case None => spark.read // unstattable path: let the read error
    }
    var df = reader.parquet(path)
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.fields.filter(f => f.name == "ts" && f.dataType == LongType)
      .foreach { f =>
        df = df.withColumn(f.name,
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr(s"${f.name} div 1000")))
      }
    // Micros-precision parquet timestamps with no tz annotation read as
    // TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ default, which
    // unix_micros()/double casts downstream reject. The session tz is
    // pinned to UTC everywhere, so reinterpreting as TIMESTAMP (LTZ) is
    // exact and matches both the old nanos-payload path above and the
    // DuckDB oracle's naive-timestamp arithmetic. (This silently broke
    // q51_asof/x14_window_hourly in round 5 when the testdata switched
    // from nanos to micros — the two queries just vanished from
    // CORRECTNESS_r05.json.)
    df.schema.fields.filter(f => f.name == "ts" && f.dataType == TimestampNTZType)
      .foreach { f =>
        df = df.withColumn(f.name,
          df.col(f.name).cast(TimestampType))
      }
    df
  }

  def csv(spark: SparkSession, path: String, header: Boolean = true,
          name: String = ""): PTable =
    PTable(spark.read.option("header", header.toString)
      .option("inferSchema", "true").csv(path), TableMeta(name))

  def json(spark: SparkSession, path: String, name: String = ""): PTable =
    PTable(spark.read.json(path), TableMeta(name))

  /** Raw text ingestion, one document per line — the standard format
    * for crawled/raw corpora. A single `line` column; splittable
    * file scan, so a directory of .txt shards parallelizes like any
    * other source. Assign ids downstream (`enum`, or a hash of the
    * line) — line order inside a distributed scan is not a contract.
    */
  def text(spark: SparkSession, path: String, name: String = ""): PTable =
    PTable(spark.read.text(path).withColumnRenamed("value", "line"),
      TableMeta(name))

  /** ORC ingestion — the other columnar warehouse format (built into
    * spark-sql; Hive-ecosystem corpora commonly arrive as ORC).
    * Same splittable scan, predicate pushdown, and column pruning
    * as parquet, so downstream plans are format-agnostic.
    */
  def orc(spark: SparkSession, path: String, name: String = ""): PTable =
    PTable(spark.read.orc(path), TableMeta(name))

  /** JDBC import_table passthrough — the Spark-side analog of the
    * reference's external SQL dialect adapters (reference
    * sql_interface.py:218-949 connects TO mysql/postgres/...; here
    * Spark IS the engine, so a foreign database is just another
    * source, read through the built-in JDBC DataSource with its
    * predicate/column pushdown intact).
    *
    * `table` may be a bare table name or a `(SELECT ...) alias`
    * subquery — whatever the driver accepts as a dbtable. For
    * parallel reads at scale pass the standard partitioning options
    * (partitionColumn/lowerBound/upperBound/numPartitions) via
    * `options`; the default single-partition read is only right for
    * dimension-sized tables.
    */
  def jdbc(spark: SparkSession, url: String, table: String,
           options: Map[String, String] = Map.empty,
           name: String = ""): PTable = {
    val props = new java.util.Properties()
    options.foreach { case (k, v) => props.setProperty(k, v) }
    PTable(spark.read.jdbc(url, table, props),
      TableMeta(if (name.nonEmpty) name else table))
  }

  /** Catalog introspection (reference pql_functions.py:786-828). */
  def tables(spark: SparkSession): DataFrame = {
    spark.catalog.listTables().select("name", "tableType", "isTemporary").toDF()
  }

  def columns(t: PTable): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    t.schema.fields.map(f => (f.name, f.dataType.simpleString, f.nullable))
      .toSeq.toDF("name", "type", "nullable")
  }
}
