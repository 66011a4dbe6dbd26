package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamReader
import org.apache.spark.sql.types.StructType

/** Source/sink surface (SURVEY.md §2.1 S1–S7) re-expressed Spark-first.
  *
  * - S1 Kafka streaming source: `kafkaStream` builds the reader with the
  *   reference's options (`streaming-service/api.py:295-302`,
  *   `spark_config.py:10-12`). The Kafka connector jar does not ship in
  *   this environment, so it cannot be exercised here; the file/memory
  *   sources drive the identical downstream pipeline
  *   (graft.streaming.EventPipeline) — the source is a parameter.
  * - S2 binary→string projection: `kafkaValueProjection`.
  * - S3 partitioned streaming parquet sink: EventPipeline.parquetSink.
  * - S4/S5 batch scans + DDL: `registerViews` + `sql` give the
  *   spark.sql surface over the fixture tables; partitioned-table DDL is
  *   `writePartitioned` (Parquet `partitionBy`, the Iceberg-table
  *   equivalent of `api.py:205-241` — partition pruning verified in
  *   SourcesSpec by PartitionFilters in the scan).
  * - S6 metadata queries: `describeTable` / count via `sql`.
  * - S7 refresh: `refreshPath` (spark.catalog.refreshByPath) for
  *   external-writer freshness.
  * - Multi-format IO: csv/json/orc round-trips (`writeAs`/`readAs`) —
  *   at 100 TB, columnar (parquet/orc) is the only sane rest format;
  *   csv/json exist for ingest edges.
  * - Snapshot isolation / atomic commit / time travel: [[SnapshotTable]]
  *   (the piece of the reference's Iceberg usage that `writePartitioned`
  *   and `compactPartitioned` deliberately left out).
  */
object Sources {

  /** ONE stable warehouse per JVM for the catalog-backed queries.
    * Spark caches a catalog INSTANCE per name at first use, so
    * re-pointing `spark.sql.catalog.<name>.warehouse` at a fresh temp
    * dir on a later invocation is silently ignored — re-running one of
    * these queries in-process (bench reps do) would then collide on
    * the table name inside the FIRST warehouse (rounds 7-8 benches
    * measured a fast-FAILING CTAS for catalog_sql_ingest exactly this
    * way). Fix: one warehouse for the process, a unique table name per
    * invocation. */
  private lazy val catalogWarehouse: String =
    java.nio.file.Files.createTempDirectory("graft-cat-wh").toString

  private def uniqueName(prefix: String): String =
    s"${prefix}_${java.util.UUID.randomUUID().toString.take(8)}"

  /** Bench-only hygiene (called by [[graft.Bench]] between timings):
    * every write-family query materializes a SINGLE-USE table — a
    * unique name in the process warehouse or its own `graft-*` temp
    * root — so a full 171-query × N-rep run accumulates gigabytes of
    * dead table bytes whose dirty-page writeback competes with later
    * timed queries (the measured source of the write-family
    * median-vs-min skew in full-suite runs; isolated reruns sit at
    * ≤1.25×). Deletes this RUN's dead roots only: `graft-*` tmpdirs
    * modified after `since` (prior runs' dirs are long flushed and
    * cost nothing), never the live warehouse itself, and the
    * accumulated tables INSIDE the warehouse while keeping the
    * namespace dirs. Single-use-per-invocation makes this safe: no
    * bench query ever reads another invocation's table. */
  def sweepBenchTemp(since: Long): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    val wh = new java.io.File(catalogWarehouse)
    val whPath = wh.getCanonicalPath
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles()).foreach(_.foreach { d =>
      if (d.getName.startsWith("graft-") && d.isDirectory &&
          d.lastModified() >= since &&
          d.getCanonicalPath != whPath) rm(d)
    })
    Option(wh.listFiles()).foreach(_.foreach { ns =>
      if (ns.isDirectory) Option(ns.listFiles()).foreach(_.foreach(rm))
    })
  }

  // ---- streaming source builders (S1/S2) ----

  /** Reference-parity Kafka reader: subscribe, latest offsets, no fail
    * on data loss. Requires the spark-sql-kafka connector on the
    * classpath at runtime. */
  def kafkaStream(spark: SparkSession, bootstrap: String, topic: String)
  : DataStreamReader =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .option("failOnDataLoss", "false")

  /** S2: Kafka's binary key/value cast to string + stream metadata. */
  def kafkaValueProjection(df: DataFrame): DataFrame =
    df.select(col("key").cast("string").as("key"),
      col("value").cast("string").as("value"),
      col("topic"), col("partition"), col("offset"), col("timestamp"))

  // ---- batch IO (S4/S5, multi-format) ----

  def writeAs(df: DataFrame, format: String, path: String): Unit =
    df.write.format(format).mode("overwrite")
      .option("header", "true").save(path)

  /** Pass `schema` whenever it is known. Without one, csv/json read as
    * single-pass with every column string-typed — NEVER with
    * inferSchema, which is a FULL extra scan over the data before the
    * real read (at 100 TB, a doubled scan for metadata the caller
    * usually already has; self-describing formats like orc/parquet
    * carry their schema and are unaffected). Callers that want typed
    * columns from schemaless text data must say so with a schema. */
  def readAs(spark: SparkSession, format: String, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.format(format).option("header", "true")
    schema.fold(r)(r.schema).load(path)
  }

  /** S5: partitioned columnar table (the Parquet equivalent of the
    * reference's PARTITIONED BY (processing_date, processing_hour)
    * Iceberg DDL). */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Storage maintenance: rewrite a partitioned parquet dataset's small
    * files toward `targetBytes` per file — the plain-parquet equivalent
    * of Iceberg's rewrite_data_files / the reference's 128 MB
    * target-file setting (`api.py:205-241`). Streaming sinks and
    * incremental batch appends accrete one small file per trigger per
    * partition; at 100 TB the resulting footer/open overhead dominates
    * scan cost, so periodic compaction is part of the engine's surface,
    * not an ops afterthought.
    *
    * Scale shape — one sizing pass + one shuffle:
    *  1. bytes/row estimated from the file listing + a count.
    *  2. per-partition-key output file counts = ceil(rows/targetRows);
    *     rows get a deterministic salt `pmod(xxhash64(data cols),
    *     files)` so each output file's rows COLOCATE in one task —
    *     repartition on (partition cols, salt) spreads a skewed
    *     partition across its several files instead of serializing it
    *     through one writer (maxRecordsPerFile alone would roll files
    *     sequentially in a single task).
    *  3. written to `<path>.compacting`, then swapped in. The swap is
    *     two renames, NOT atomic for concurrent readers — at cluster
    *     scale that transactionality is precisely what a table format
    *     (Iceberg/Delta) adds on top of this same rewrite job.
    *
    * Returns (files before, files after), counting data files only. */
  def compactPartitioned(spark: SparkSession, path: String,
      partitionCols: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024): (Long, Long) = {
    import org.apache.hadoop.fs.Path
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(p: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val it = fs.listFiles(p, true)
      val buf = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith(".")) buf += f
      }
      buf.result()
    }
    val before = dataFiles(hPath)
    val df = spark.read.parquet(path)
    val totalRows = df.count()
    if (totalRows == 0) return (before.size.toLong, before.size.toLong)
    val bytesPerRow = math.max(1L, before.map(_.getLen).sum / totalRows)
    val targetRows = math.max(1L, targetBytes / bytesPerRow)
    val dataCols = df.columns.filterNot(partitionCols.contains).toSeq
    val perKey = df.groupBy(partitionCols.map(col): _*)
      .agg(ceil(count(lit(1)).cast("double") / targetRows)
        .cast("int").as("__files"))
    val tmp = new Path(path + ".compacting")
    // degenerate partition-cols-only tables have nothing to salt on;
    // maxRecordsPerFile still rolls their files at the target size
    val salt = if (dataCols.isEmpty) lit(0L)
      else pmod(xxhash64(dataCols.map(col): _*), col("__files"))
    df.join(broadcast(perKey), partitionCols)
      .withColumn("__salt", salt)
      .repartition((partitionCols :+ "__salt").map(col): _*)
      .drop("__files", "__salt")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetRows)
      .partitionBy(partitionCols: _*)
      .parquet(tmp.toString)
    fs.delete(hPath, true)
    require(fs.rename(tmp, hPath), s"rename $tmp -> $hPath failed")
    spark.catalog.refreshByPath(path)
    (before.size.toLong, dataFiles(hPath).size.toLong)
  }

  /** Storage clustering on one key: range-repartition + in-file sort +
    * write. Every output file then holds a DISJOINT key range, so any
    * parquet reader with a key predicate skips whole files/row-groups on
    * min/max footer stats — data skipping delivered purely by LAYOUT, no
    * index, no table format. This is the single-dimension form of what
    * table formats call clustering; at 100 TB it is the difference
    * between a selective query scanning one file and scanning all of
    * them. `files` controls granularity: more files = finer skipping,
    * more footers (pair with `compactPartitioned`'s sizing discipline).
    *
    * The range boundaries come from Spark's range-partitioning sampler —
    * one lightweight sampling pass, then one shuffle; no driver-side
    * data. */
  def writeClustered(df: DataFrame, path: String, key: String,
      files: Int): Unit =
    df.repartitionByRange(files, col(key))
      .sortWithinPartitions(col(key))
      .write.mode("overwrite").parquet(path)

  /** Two-dimensional clustering via a Z-ORDER curve: both columns are
    * rank-normalized to 16 bits (min/max from one tiny stats pass —
    * four scalars, not data) and bit-interleaved; range-partitioning on
    * the interleaved value gives every file a compact bounding BOX in
    * (a, b) space, so predicates on EITHER column alone skip most
    * files — the property one-column sorting cannot give to the second
    * column. The interleave is a pure column expression (shift/and/or
    * folds), fully codegen'd, never a UDF. */
  def writeZOrdered(df: DataFrame, path: String, keyA: String,
      keyB: String, files: Int): Unit =
    df.withColumn("__z", zOrderColumn(df, keyA, keyB))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** The Z-interleave as a pure column expression against `df`'s value
    * ranges (one four-scalar stats pass). Shared with the snapshot
    * table's Z-ordered commits. */
  private[sources] def zOrderColumn(df: DataFrame, keyA: String,
      keyB: String): Column = zOrderColumnN(df, Seq(keyA, keyB))

  /** Interleaved Z-curve value over N key columns: each key is
    * min/max-normalized to `b = 32/N` bits (16 for two dims, 10 for
    * three, 8 for four — total curve precision is a fixed bit budget,
    * the standard multi-dim trade-off), and bit i of key j lands at
    * curve position `N*i + j`. One driver-side min/max row computes
    * the normalization ranges; empty/all-NULL keys degrade to an
    * unordered write instead of throwing. */
  private[sources] def zOrderColumnN(df: DataFrame,
      keys: Seq[String]): Column = {
    require(keys.nonEmpty && keys.size <= 8,
      s"z-order supports 1..8 dims, got ${keys.size}")
    val bits = math.max(4, math.min(16, 32 / keys.size))
    val aggCols = keys.flatMap(k => Seq(min(col(k)).cast("double"),
      max(col(k)).cast("double")))
    val stats = df.agg(aggCols.head, aggCols.tail: _*).head()
    if (keys.indices.exists(j => stats.isNullAt(2 * j))) return lit(0L)
    val top = (1L << bits) - 1
    def normB(c: Column, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else least(lit(top), floor(
        (c.cast("double") - lit(lo)) / lit(hi - lo) *
          lit((top + 1).toDouble)).cast("long"))
    val normed = keys.zipWithIndex.map { case (k, j) =>
      normB(col(k), stats.getDouble(2 * j), stats.getDouble(2 * j + 1))
    }
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      normed.zipWithIndex.foldLeft(acc) { case (a, (nk, j)) =>
        a.bitwiseOR(shiftleft(shiftright(nk, i).bitwiseAND(lit(1L)),
          keys.size * i + j))
      }
    }
  }

  /** Bucketed table pair for co-located joins (the cluster-scale answer
    * to fact-fact shuffles, SURVEY §7 M2 scale note): both sides
    * `bucketBy(n, key)` + `sortBy(key)` into managed tables; a join on
    * the bucket key then needs NO Exchange on either side — each task
    * merge-joins bucket i against bucket i. Requires saveAsTable (bucket
    * metadata lives in the catalog, not the files). */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** S4: register every fixture table as a temp view -> spark.sql. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    graft.Tables.names.foreach { n =>
      graft.Tables.load(spark, dir, n).createOrReplaceTempView(n)
    }

  /** S6: schema metadata of a registered table. */
  def describeTable(spark: SparkSession, name: String): DataFrame =
    spark.sql(s"DESCRIBE $name")

  /** S7: cross-process snapshot freshness for path-based tables. */
  def refreshPath(spark: SparkSession, path: String): Unit =
    spark.catalog.refreshByPath(path)

  // ---- SQL surface queries (driver-checked) ----

  /** Queries expressed through spark.sql over the registered views —
    * exercising the SQL parser path of the engine (the reference's
    * `spark.sql(...)` usage, `streaming-service/api.py:199-246,462-465`). */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_revenue_by_year" -> ((s, dir) => {
      registerViews(s, dir)
      s.sql(
        """SELECT year(o_orderdate) AS y,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
          |      * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
          |    AS revenue,
          |  count(*) AS n_items
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY year(o_orderdate)
          |ORDER BY y""".stripMargin)
    }),
    "sql_segment_priority_matrix" -> ((s, dir) => {
      registerViews(s, dir)
      s.sql(
        """SELECT c_mktsegment, o_orderpriority, count(*) AS n
          |FROM customer JOIN orders ON c_custkey = o_custkey
          |GROUP BY c_mktsegment, o_orderpriority
          |ORDER BY c_mktsegment, o_orderpriority""".stripMargin)
    }),
    // correlated EXISTS / NOT EXISTS through the SQL parser — exercises
    // Catalyst's predicate-subquery decorrelation (RewritePredicateSubquery
    // turns these into semi/anti joins; the DataFrame-API twins in
    // Relational declare the joins directly).
    // Recursive CTE through Spark 4's UnionLoop execution: an 84-step
    // integer recursion builds the 1992-01..1998-12 month spine (the
    // dashboard "no data is still a data point" gap-fill the reference
    // fakes driver-side), LEFT JOIN monthly order rollups, zero-filled.
    // Integer-only recursion keeps both engines' arithmetic identical;
    // the recursion depth is a constant 84, driver-bounded, so the
    // loop's per-step work is one 1-row batch — scale lives entirely
    // in the joined aggregate.
    "sql_recursive_month_spine" -> ((s, dir) => {
      registerViews(s, dir)
      s.sql(
        """WITH RECURSIVE spine(n) AS (
          |  SELECT 0
          |  UNION ALL
          |  SELECT n + 1 FROM spine WHERE n < 83
          |),
          |m AS (SELECT 1992 + n DIV 12 AS yr, 1 + n % 12 AS mon
          |      FROM spine),
          |o AS (SELECT year(o_orderdate) AS yr,
          |        month(o_orderdate) AS mon,
          |        count(*) AS n_orders,
          |        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
          |          AS DOUBLE) AS revenue
          |      FROM orders WHERE o_orderdate < DATE '1998-09-01'
          |      GROUP BY 1, 2)
          |SELECT m.yr, m.mon, coalesce(o.n_orders, 0) AS n_orders,
          |  coalesce(o.revenue, 0.0) AS revenue
          |FROM m LEFT JOIN o ON m.yr = o.yr AND m.mon = o.mon
          |ORDER BY m.yr, m.mon""".stripMargin)
    }),
    "sql_exists_correlated" -> ((s, dir) => {
      registerViews(s, dir)
      s.sql(
        """SELECT c_custkey, c_mktsegment FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
          |  AND o_totalprice > 150000)
          |AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
          |  AND o_orderpriority = '1-URGENT')
          |ORDER BY c_custkey""".stripMargin)
    }),
    // correlated SCALAR subquery — decorrelates to a left-outer
    // aggregate join (customers without orders surface as NULL, kept
    // explicitly: that null-preservation IS the decorrelation contract).
    "sql_scalar_subquery" -> ((s, dir) => {
      registerViews(s, dir)
      s.sql(
        """SELECT c_custkey,
          |  (SELECT CAST(max(o_totalprice) AS DOUBLE) FROM orders
          |   WHERE o_custkey = c_custkey) AS max_order
          |FROM customer ORDER BY c_custkey""".stripMargin)
    }),
    // explicit GROUPING SETS — the general form behind rollup/cube
    // (those are covered as DataFrame ops in Relational); the grouping
    // bit-vector disambiguates aggregated-away columns from NULL data.
    "sql_grouping_sets" -> ((s, dir) => {
      registerViews(s, dir)
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |  grouping_id(o_orderstatus, o_orderpriority) AS gid,
          |  count(*) AS n
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          |  (o_orderstatus), ())
          |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin)
    }),
    // LATERAL correlated derived table — the SQL form of top-k-per-
    // group (each nation row feeds its own ordered-and-limited customer
    // subquery). Catalyst decorrelates the LIMIT-per-correlation into a
    // partitioned window, so the plan is the same scale shape as the
    // DataFrame window variant — one keyed shuffle, no per-row re-
    // execution of the subquery.
    "sql_lateral_top_customers" -> ((s, dir) => {
      registerViews(s, dir)
      s.sql(
        """SELECT n_name, t.c_name, t.c_acctbal
          |FROM nation,
          |  LATERAL (SELECT c_name, c_acctbal FROM customer
          |           WHERE c_nationkey = n_nationkey
          |           ORDER BY c_acctbal DESC, c_name LIMIT 2) t
          |ORDER BY n_name, t.c_acctbal DESC, t.c_name""".stripMargin)
    }),
    // TPC-H Q21 shape — the hardest decorrelation pattern: EXISTS and
    // NOT EXISTS both correlated against the SAME table (lineitem)
    // under different aliases, on top of a multi-way join. Catalyst
    // rewrites the pair into one left-semi and one left-anti join
    // against l1 in a single plan (asserted in RelationalSpec). The
    // fixture has no receipt/commit dates, so l_returnflag = 'R' plays
    // the "failed delivery" role: suppliers who were the ONLY supplier
    // with a returned item in a finished multi-supplier order.
    "q21_waiting_suppliers" -> ((s, dir) => {
      registerViews(s, dir)
      s.sql(q21Sql)
    }),
    // TPC-H Q2 shape — correlated scalar MIN whose inner query is
    // ITSELF a join (lineitem⋈supplier; the fixture has no partsupp,
    // so min unit price l_extendedprice/l_quantity per part stands in
    // for min supplycost). Catalyst decorrelates the aggregate-over-
    // join into a grouped min keyed by partkey joined back to the
    // outer — one aggregation + one join, never a per-row re-execution.
    // DOUBLE division is IEEE-deterministic in both engines, so the
    // min-equality membership is bit-stable.
    "q2_min_cost_supplier" -> ((s, dir) => {
      registerViews(s, dir)
      s.sql(q2Sql)
    }),
    // Layout ops under the oracle: round-trip events through the
    // clustered rewrite, then aggregate a value band FROM THE CLUSTERED
    // COPY. The oracle computes the same aggregate from the original
    // table — matching hashes prove the relayout is value-preserving
    // (clustering must change WHERE rows sit, never WHAT they are).
    "layout_clustered_band" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-clu-q")
        .toString + "/events_by_value"
      writeClustered(graft.Tables.load(s, dir, "events"), root,
        "value", files = 8)
      s.read.parquet(root)
        .filter(col("value") >= 25.0 && col("value") < 75.0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(12,2)")).cast("double")
            .as("sum_value"))
        .orderBy(asc("event_type"))
    }),
    // Snapshot-table surface under the oracle: commit the orders table
    // as v1 and a filtered snapshot as v2 into a fresh SnapshotTable,
    // then report per-version status counts READ BACK THROUGH the
    // version log (current read = v2, time travel = v1). The oracle
    // computes the same counts straight from the base table — matching
    // hashes prove the commit/claim/publish/read-path round trip, not
    // just the arithmetic.
    "snapshot_time_travel" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-snap-q")
        .toString + "/orders"
      val orders = graft.Tables.load(s, dir, "orders")
      SnapshotTable.commit(s, root, orders)
      SnapshotTable.commit(s, root,
        orders.filter(col("o_orderstatus") === "F"))
      val v1 = SnapshotTable.readVersion(s, root, 1L)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"))
        .withColumn("version", lit(1L))
      val v2 = SnapshotTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"))
        .withColumn("version", lit(2L))
      v1.unionByName(v2)
        .select("version", "o_orderstatus", "n")
        .orderBy("version", "o_orderstatus")
    }),
    // PARTIAL fast-forward under the oracle: main holds F orders, a
    // branch lands O then P as two commits, and fastForwardTo
    // promotes only the first — main must read F∪O (the promoted
    // prefix, via copied hop pointers, no new commit) while the
    // branch still reads F∪O∪P (the unpromoted suffix). The oracle
    // reconstructs both legs with plain filters; matching hashes
    // prove the pointer walk serves exactly the prefix snapshot.
    "snapshot_partial_ff" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-pff-q")
        .toString + "/orders_pff"
      val o = graft.Tables.load(s, dir, "orders")
      SnapshotTable.commit(s, root,
        o.filter(col("o_orderstatus") === "F"))                   // v1
      SnapshotTable.createBranch(s, root, "ingest")
      SnapshotTable.append(s, root,
        o.filter(col("o_orderstatus") === "O"), branch = "ingest") // v2
      SnapshotTable.append(s, root,
        o.filter(col("o_orderstatus") === "P"), branch = "ingest") // v3
      SnapshotTable.fastForwardTo(s, root, "ingest", 2L)
      val main = SnapshotTable.read(s, root)
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .withColumn("leg", lit("main"))
      val br = SnapshotTable.readBranch(s, root, "ingest")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .withColumn("leg", lit("branch"))
      main.unionByName(br)
        .select("leg", "o_orderstatus", "n")
        .orderBy("leg", "o_orderstatus")
    }),
    // The round-7 manifest path under the oracle: bootstrap-merge a
    // third of orders (clustered on the key), APPEND another third as
    // a second commit (no existing file touched), then MERGE an update
    // set (matched rows get a sentinel price, unmatched insert) that
    // the per-file stats prune to the intersecting files — and read
    // the final state back through the version log. The oracle
    // reconstructs the same final state with plain SQL over the base
    // table; matching hashes prove bootstrap + append + file-pruned
    // merge + current-read compose to exactly MERGE semantics. Counts
    // only (the sentinel is probed with a sign test), keeping the row
    // values integer-exact in both engines.
    "snapshot_incremental_ingest" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-inc-q")
        .toString + "/orders_inc"
      val o = graft.Tables.load(s, dir, "orders")
      val third = o.filter(col("o_orderkey") % 3 === 0)
      val appended = o.filter(col("o_orderkey") % 3 === 1)
      val updates = o.filter((col("o_orderkey") % 30 === 0) ||
          (col("o_orderkey") % 3 === 2 && col("o_orderkey") % 7 === 0))
        .withColumn("o_totalprice", lit(-1.0))
      SnapshotTable.merge(s, root, third, "o_orderkey")      // v1
      SnapshotTable.append(s, root, appended,
        clusterKey = Some("o_orderkey"))                     // v2
      SnapshotTable.merge(s, root, updates, "o_orderkey")    // v3
      SnapshotTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          count(when(col("o_totalprice") < 0, 1)).as("n_updated"))
        .orderBy("o_orderstatus")
    }),
    // The merge-on-read path under the oracle: bootstrap a third of
    // orders, MERGE-ON-READ the same update set (the commit writes
    // only the batch + a key tombstone — zero existing files opened),
    // then DELETE a key subset as a tombstone-only commit, and read
    // the final state through the sequence-numbered tombstone filter.
    // The oracle reconstructs the identical final state with plain
    // SQL; matching hashes prove the read-side merge applies updates,
    // deletes, and last-writer-wins ordering exactly.
    "snapshot_mor_ingest" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-mor-q")
        .toString + "/orders_mor"
      val o = graft.Tables.load(s, dir, "orders")
      val third = o.filter(col("o_orderkey") % 3 === 0)
      val updates = o.filter((col("o_orderkey") % 30 === 0) ||
          (col("o_orderkey") % 3 === 2 && col("o_orderkey") % 7 === 0))
        .withColumn("o_totalprice", lit(-1.0))
      SnapshotTable.merge(s, root, third, "o_orderkey")        // v1
      SnapshotTable.mergeOnRead(s, root, updates, "o_orderkey") // v2
      SnapshotTable.deleteKeysOnRead(s, root,                   // v3
        o.filter(col("o_orderkey") % 60 === 0).select("o_orderkey"),
        "o_orderkey")
      SnapshotTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          count(when(col("o_totalprice") < 0, 1)).as("n_updated"))
        .orderBy("o_orderstatus")
    }),
    // Point lookup under the oracle: cluster orders into a snapshot
    // table, then fetch a key SET through readKeys — manifest stats
    // prune to the files whose range can hold a requested key, a semi
    // join keeps exact matches. The oracle filters the base table to
    // the same key set; matching hashes prove pruned lookup ≡ filter.
    "snapshot_keyed_lookup" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-look-q")
        .toString + "/orders_lookup"
      val o = graft.Tables.load(s, dir, "orders")
      SnapshotTable.merge(s, root, o, "o_orderkey")
      val wanted = o.filter(col("o_orderkey") % 500 === 0)
        .select("o_orderkey")
      SnapshotTable.readKeys(s, root, "o_orderkey", wanted)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    }),
    // Needle-in-haystack through the HASH-BUCKET layout: bucket
    // orders on o_custkey — a hash-scattered key whose per-file
    // min/max ranges all span the whole domain, so stats pruning
    // keeps everything — then fetch five customers' orders through
    // the connector. GraftPruning.pruneBucket hashes the IN literals
    // at plan time (the writer's own pmod(murmur3, n)) and plans
    // ONLY their cells' files: at 100 TB the lookup reads ~5/32nds
    // of the table regardless of row count. The oracle filters raw
    // orders to the same keys; matching hashes prove the cell-pruned
    // lookup ≡ the filter. (BucketPruneSpec pins the file counts;
    // this row pins the rows.)
    "snapshot_bucket_lookup" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-bkt-q")
        .toString + "/orders_bkt"
      val o = graft.Tables.load(s, dir, "orders")
      SnapshotTable.commitBucketed(s, root, o, "o_custkey", 32)
      val keys = o.select(col("o_custkey")).distinct()
        .orderBy(col("o_custkey")).limit(5)
        .collect().map(_.getLong(0)).toSeq
      s.read.format("graft-snapshot").option("path", root).load()
        .filter(col("o_custkey").isin(keys: _*))
        .groupBy(col("o_custkey"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_custkey"), col("o_orderstatus"))
    }),
    // DELETE under the oracle, both tiers: cluster orders into a
    // snapshot table, (1) range-DELETE through the pushed-filter path
    // — manifest stats drop wholly-covered files without opening them
    // and rewrite only the straddler — then (2) DELETE a scattered
    // key set through the opaque-Column path, whose matched-file scan
    // rewrites only files that actually hold matches. The oracle
    // applies the complementary WHERE to the base table; matching
    // hashes prove metadata-drop + scan-prune + COW rewrite compose
    // to exactly SQL DELETE semantics. (The spec proves the IO
    // claims; this row proves the surviving rows.)
    "snapshot_delete_where" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-del-q")
        .toString + "/orders_del"
      val o = graft.Tables.load(s, dir, "orders")
      SnapshotTable.merge(s, root, o, "o_orderkey", files = 8)
      val cut = o.agg(max(col("o_orderkey"))).head().getLong(0) / 3
      SnapshotTable.deleteFilters(s, root, Seq(
        org.apache.spark.sql.sources.LessThanOrEqual("o_orderkey", cut)))
      SnapshotTable.deleteWhere(s, root, col("o_orderkey") % 97 === 0)
      SnapshotTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    }),
    // SQL row-level operations under the oracle: cluster orders into
    // a catalog-named snapshot table, run a SQL UPDATE (untranslatable
    // predicate — the group-based copy-on-write path, not the
    // metadata-delete tier) and then a SQL MERGE INTO (matched rows
    // take the source's status, unmatched source rows insert), and
    // read the final state back through the connector. The oracle
    // reconstructs the same end state with CASE + UNION ALL over the
    // base table; matching hashes prove Spark's ReplaceData rewrite →
    // recorded-group swap → CAS manifest commit compose to exactly
    // UPDATE-then-MERGE semantics. Statement order matters and is
    // part of the contract: a key hit by both takes the MERGE value.
    "snapshot_sql_merge" -> ((s, dir) => {
      val wh = catalogWarehouse
      val tbl = uniqueName("orders_rl")
      s.conf.set("spark.sql.catalog.graft_rlq",
        classOf[graft.sources.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_rlq.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_rlq.db")
      val o = graft.Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      SnapshotTable.merge(s, s"$wh/db/$tbl", o, "o_orderkey",
        files = 8)
      s.sql(
        s"""UPDATE graft_rlq.db.$tbl SET o_totalprice = -1.0
          |WHERE o_orderkey % 10 = 3""".stripMargin)
      o.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_orderstatus", lit("X"))
        // key 0 exists in the fixture: -0 = 0 would collide with the
        // %7 match set and (correctly) trip MERGE's cardinality check
        .unionByName(o.filter(col("o_orderkey") % 97 === 0 &&
            col("o_orderkey") > 0)
          .select((-col("o_orderkey")).as("o_orderkey"),
            lit("N").as("o_orderstatus"),
            lit(0.5).as("o_totalprice")))
        .createOrReplaceTempView("graft_rl_src")
      s.sql(
        s"""MERGE INTO graft_rlq.db.$tbl t
          |USING graft_rl_src s ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.table(s"graft_rlq.db.$tbl")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_totalprice") < 0, 1L).otherwise(0L))
            .as("n_updated"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    }),
    // MERGE WITH SCHEMA EVOLUTION under the oracle: the source carries
    // a column the target lacks (prio); the analyzer's schema diff
    // routes it through the catalog's ADD COLUMNS metadata commit and
    // the row-level rewrite proceeds under the evolved schema — old
    // rows read NULL, matched rows take the source's prio, inserted
    // rows land fully typed. The oracle reconstructs the evolved end
    // state with CASE + UNION ALL over the base table; matching
    // hashes prove evolution + rewrite compose exactly.
    "snapshot_sql_merge_evolve" -> ((s, dir) => {
      val wh = catalogWarehouse
      val tbl = uniqueName("orders_evosql")
      s.conf.set("spark.sql.catalog.graft_evq",
        classOf[graft.sources.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_evq.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_evq.db")
      val o = graft.Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      SnapshotTable.merge(s, s"$wh/db/$tbl", o, "o_orderkey",
        files = 8)
      o.filter(col("o_orderkey") % 7 === 0)
        .withColumn("prio", col("o_orderkey") % 5)
        .unionByName(o.filter(col("o_orderkey") % 97 === 0 &&
            col("o_orderkey") > 0)
          .select((-col("o_orderkey")).as("o_orderkey"),
            lit("N").as("o_orderstatus"),
            lit(0.5).as("o_totalprice"), lit(3L).as("prio")))
        .createOrReplaceTempView("graft_evo_src")
      s.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO graft_evq.db.$tbl t
          |USING graft_evo_src s ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.table(s"graft_evq.db.$tbl")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          count(col("prio")).as("n_with_prio"),
          sum(col("prio")).as("sum_prio"),
          min(col("o_orderkey")).as("min_key"))
        .orderBy("o_orderstatus")
    }),
    // The changelog tables under the oracle: a merge-on-read history
    // (UPDATE then DELETE) read back commit-by-commit — t.changes
    // VERSION AS OF 2 is exactly the update's replacement rows,
    // t.delete_keys VERSION AS OF 3 exactly the deleted keys, each an
    // O(commit delta) file scan. The oracle recomputes both sets from
    // the base table; matching hashes prove the seq-stamped file
    // deltas ARE the row-level change sets.
    "snapshot_changes_feed" -> ((s, dir) => {
      val wh = catalogWarehouse
      val tbl = uniqueName("orders_chg")
      s.conf.set("spark.sql.catalog.graft_chq",
        classOf[graft.sources.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_chq.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_chq.db")
      val root = s"$wh/db/$tbl"
      val o = graft.Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      SnapshotTable.merge(s, root, o, "o_orderkey", files = 8) // v1
      SnapshotTable.setProperties(s, root, Map(
        "write.mode" -> "merge-on-read",
        "write.merge.key" -> "o_orderkey"))
      s.sql(
        s"""UPDATE graft_chq.db.$tbl
          |SET o_totalprice = -1.0 * o_totalprice
          |WHERE o_orderkey % 10 = 3""".stripMargin)           // v2
      s.sql(
        s"DELETE FROM graft_chq.db.$tbl WHERE o_orderkey % 97 = 0"
      )                                                        // v3
      val chg = s.sql(
        s"SELECT * FROM graft_chq.db.$tbl.changes VERSION AS OF 2")
        .agg(count(lit(1)).as("n_changed"),
          sum(expr("CAST(o_totalprice AS DECIMAL(18,2))"))
            .cast("double").as("total_changed"))
      val dk = s.sql(
        s"SELECT * FROM graft_chq.db.$tbl.delete_keys " +
          "VERSION AS OF 3")
        .agg(count(lit(1)).as("n_del_keys"),
          min(col("o_orderkey")).as("min_dk"),
          max(col("o_orderkey")).as("max_dk"))
      chg.crossJoin(dk)
    }),
    // Zero-copy clone under the oracle: clone the committed orders
    // table (metadata-only — the clone's manifest references the
    // source files by absolute path), DIVERGE both sides (a MOR
    // update on the clone, an append on the source), and read both
    // through one union. The oracle reconstructs the two end states
    // from the base table; matching hashes prove shared-file reads,
    // clone isolation and divergence all compose exactly.
    "snapshot_clone_diverge" -> ((s, dir) => {
      val wh = catalogWarehouse
      val (srcT, dstT) = (uniqueName("ord_cs"), uniqueName("ord_cd"))
      s.conf.set("spark.sql.catalog.graft_clq",
        classOf[graft.sources.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_clq.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_clq.db")
      val (srcRoot, dstRoot) = (s"$wh/db/$srcT", s"$wh/db/$dstT")
      val o = graft.Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      SnapshotTable.merge(s, srcRoot, o, "o_orderkey", files = 8)
      SnapshotTable.setProperties(s, srcRoot, Map(
        "write.mode" -> "merge-on-read",
        "write.merge.key" -> "o_orderkey"))
      s.sql(s"CALL graft_clq.system.clone('db.$srcT', 'db.$dstT', 0)")
      // diverge: clone takes a MOR price update, source takes inserts
      s.sql(
        s"""UPDATE graft_clq.db.$dstT SET o_totalprice = -1.0
          |WHERE o_orderkey % 10 = 3""".stripMargin)
      SnapshotTable.append(s, srcRoot,
        o.filter(col("o_orderkey") % 97 === 0 &&
            col("o_orderkey") > 0)
          .select((-col("o_orderkey")).as("o_orderkey"),
            lit("N").as("o_orderstatus"),
            lit(0.5).as("o_totalprice")))
      s.table(s"graft_clq.db.$srcT").withColumn("side", lit("src"))
        .unionByName(
          s.table(s"graft_clq.db.$dstT").withColumn("side", lit("br")))
        .groupBy("side", "o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_totalprice") < 0, 1L).otherwise(0L))
            .as("n_updated"),
          min(col("o_orderkey")).as("min_key"))
        .orderBy("side", "o_orderstatus")
    }),
    // Branch refs under the oracle: commit orders, branch 'staging',
    // append a derived batch ON THE BRANCH (main stays at v1), then
    // FAST-FORWARD merge and read both the pre-merge snapshot (time
    // travel to v1 — isolation held) and the merged head through the
    // catalog (the ref moved). The oracle reconstructs both sides
    // from the base table; matching hashes prove branch isolation,
    // the pointer-jump merge and head resolution end-to-end.
    "snapshot_branch_merge" -> ((s, dir) => {
      val wh = catalogWarehouse
      val t = uniqueName("ord_br")
      s.conf.set("spark.sql.catalog.graft_brq",
        classOf[graft.sources.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_brq.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_brq.db")
      val root = s"$wh/db/$t"
      val o = graft.Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      SnapshotTable.commit(s, root, o)                        // v1
      SnapshotTable.createBranch(s, root, "staging")
      SnapshotTable.append(s, root,
        o.filter(col("o_orderkey") % 89 === 0 &&
            col("o_orderkey") > 0)
          .select((-col("o_orderkey")).as("o_orderkey"),
            lit("B").as("o_orderstatus"),
            lit(2.5).as("o_totalprice")),
        branch = "staging")                                   // v2
      val pre = SnapshotTable.readVersion(s, root, 1L)
        .withColumn("side", lit("pre"))
      SnapshotTable.fastForward(s, root, "staging")
      val merged = s.table(s"graft_brq.db.$t")
        .withColumn("side", lit("merged"))
      pre.unionByName(merged)
        .groupBy("side", "o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(o_totalprice AS DECIMAL(18,2))"))
            .cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"))
        .orderBy("side", "o_orderstatus")
    }),
    // DROP COLUMN under the oracle: commit orders (3 cols), ALTER
    // TABLE DROP COLUMN o_totalprice — a metadata-only narrowing
    // commit; pre-drop files keep the column's bytes as unreferenced
    // ghosts — then append rows under the NARROWED schema. The evolved
    // read must serve exactly the 2 surviving columns from both file
    // populations; the oracle reconstructs the same set from the base
    // table, so matching hashes prove the narrowed projection and the
    // post-drop write path end-to-end through the connector scan.
    "snapshot_drop_column" -> ((s, dir) => {
      val wh = catalogWarehouse
      val t = uniqueName("ord_drp")
      s.conf.set("spark.sql.catalog.graft_drpq",
        classOf[graft.sources.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_drpq.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_drpq.db")
      val root = s"$wh/db/$t"
      val o = graft.Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      SnapshotTable.commit(s, root, o)                        // v1
      s.sql(s"ALTER TABLE graft_drpq.db.$t " +
        "DROP COLUMN o_totalprice")                           // v2
      SnapshotTable.append(s, root,
        o.filter(col("o_orderkey") % 97 === 0 &&
            col("o_orderkey") > 0)
          .select((-col("o_orderkey")).as("o_orderkey"),
            lit("D").as("o_orderstatus")))                    // v3
      s.table(s"graft_drpq.db.$t")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    }),
    // TYPE WIDENING under the oracle: commit part with its INT
    // p_size, ALTER COLUMN p_size TYPE BIGINT — metadata-only; old
    // files keep INT32 pages and the scan upcasts at decode — then
    // append rows born BIGINT and aggregate across both populations,
    // filtering on the widened column so int-recorded min/max stats
    // drive pruning under the long predicate.
    "snapshot_widen_column" -> ((s, dir) => {
      val wh = catalogWarehouse
      val t = uniqueName("part_w")
      s.conf.set("spark.sql.catalog.graft_wdq",
        classOf[graft.sources.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_wdq.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_wdq.db")
      val root = s"$wh/db/$t"
      val p = graft.Tables.load(s, dir, "part")
        .select("p_partkey", "p_size")
      SnapshotTable.commit(s, root, p)                        // v1
      s.sql(s"ALTER TABLE graft_wdq.db.$t " +
        "ALTER COLUMN p_size TYPE BIGINT")                    // v2
      SnapshotTable.append(s, root,
        p.filter(col("p_partkey") % 53 === 0 &&
            col("p_partkey") > 0)
          .select((-col("p_partkey")).as("p_partkey"),
            (col("p_size").cast("bigint") + 100L).as("p_size"))) // v3
      s.table(s"graft_wdq.db.$t")
        .filter(col("p_size") >= 10L)
        .groupBy((col("p_partkey") % 7).as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("p_size")).as("sum_size"),
          min(col("p_partkey")).as("min_key"))
        .orderBy("grp")
    }),
    // DECIMAL WIDENING under the oracle: commit orders with a
    // DECIMAL(12,2) price (string-built, so Spark and DuckDB parse
    // bit-identical values — no double->decimal rounding in play),
    // ALTER COLUMN TYPE DECIMAL(24,2) — metadata-only; old files
    // keep their narrow physical pages and the scan upcasts at
    // decode — then append rows born wide (values past 12 digits)
    // and filter + aggregate on the widened column, so the
    // decimal-rendered range stats prune under the wide predicate.
    "snapshot_widen_decimal" -> ((s, dir) => {
      val wh = catalogWarehouse
      val t = uniqueName("ord_wdec")
      s.conf.set("spark.sql.catalog.graft_wdd",
        classOf[graft.sources.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_wdd.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_wdd.db")
      val root = s"$wh/db/$t"
      val o = graft.Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          concat(col("o_orderkey") % 100000L, lit(".25"))
            .cast("decimal(12,2)").as("price"))
      SnapshotTable.commit(s, root, o)                        // v1
      s.sql(s"ALTER TABLE graft_wdd.db.$t " +
        "ALTER COLUMN price TYPE DECIMAL(24,2)")              // v2
      SnapshotTable.append(s, root,
        o.filter(col("o_orderkey") % 89 === 0 &&
            col("o_orderkey") > 0)
          .select((-col("o_orderkey")).as("o_orderkey"),
            col("o_orderstatus"),
            (col("price") + lit("1000000000000.00")
              .cast("decimal(24,2)")).cast("decimal(24,2)")
              .as("price")))                                  // v3
      s.table(s"graft_wdd.db.$t")
        .filter(col("price") >= lit("1000.00").cast("decimal(24,2)"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          // the hashed surface is INTEGER CENTS on BOTH engines: the
          // DECIMAL(18,2) attempt was verified bit-identical four
          // independent ways yet still hashed red, so decimals leave
          // the compare surface entirely. scale=2 × 100 is an exact
          // integer (~6.7e15 at sf0.01, well inside int64); the
          // widened DECIMAL(24,2) column itself — filter, narrow-page
          // upcast, wide aggregation — stays the feature under test.
          (sum(col("price")) * lit(100)).cast("long")
            .as("sum_price_cents"),
          min(col("o_orderkey")).as("min_key"))
        .orderBy("o_orderstatus")
    }),
    // IDENTITY PARTITIONING under the oracle, pure-SQL surface:
    // CREATE TABLE ... PARTITIONED BY (o_orderpriority), INSERT the
    // orders rows (the V2 write clusters by the value and splits one
    // file per distinct value — every file value-pure), then GROUP BY
    // the partition key. The scan answers ENTIRELY from the manifest
    // (PushedAggregates, files=0/N — zero data files opened); DuckDB
    // recomputes the same answer from the raw parquet.
    "snapshot_partitioned_groupby" -> ((s, dir) => {
      val wh = catalogWarehouse
      val t = uniqueName("ord_idp")
      s.conf.set("spark.sql.catalog.graft_idp",
        classOf[graft.sources.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_idp.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_idp.db")
      s.sql(s"CREATE TABLE graft_idp.db.$t (o_orderkey BIGINT, " +
        "o_orderpriority STRING, o_totalprice DOUBLE) " +
        "PARTITIONED BY (o_orderpriority)")
      graft.Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .createOrReplaceTempView(s"src_$t")
      s.sql(s"INSERT INTO graft_idp.db.$t SELECT * FROM src_$t")
      s.sql(s"SELECT o_orderpriority, count(*) AS n, " +
        "min(o_orderpriority) AS lo, max(o_orderpriority) AS hi " +
        s"FROM graft_idp.db.$t GROUP BY o_orderpriority " +
        "ORDER BY o_orderpriority")
    }),
    // EXACT partition pruning: identity-partition orders on
    // o_orderstatus (3 values), filter one value — the plan keeps
    // only that value's files (min == max stats, no band slack) —
    // and aggregate inside it.
    "snapshot_partition_prune" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-part-q").toString + "/orders_part"
      SnapshotTable.commitPartitioned(s, root,
        graft.Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice"),
        "o_orderstatus")
      s.read.format("graft-snapshot").option("path", root).load()
        .filter(col("o_orderstatus") === "F")
        .groupBy((col("o_orderkey") % 11).as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).cast("bigint").as("sum_key"),
          min(col("o_orderkey")).as("min_key"))
        .orderBy("grp")
    }),
    // CONSUMED partition filter + manifest aggregate: on a value-pure
    // table a filter ON the partition key is decided exactly per file
    // (all of a file's rows match or none), so the connector returns
    // NO residual and COUNT under the filter answers from the kept
    // files' footer counts — a zero-IO metadata read at any scale.
    "snapshot_partition_count" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-pcount-q").toString + "/orders_pc"
      SnapshotTable.commitPartitioned(s, root,
        graft.Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice"),
        "o_orderstatus")
      s.read.format("graft-snapshot").option("path", root).load()
        .filter(col("o_orderstatus") === "F")
        .agg(count(lit(1)).as("n"),
          min(col("o_orderstatus")).as("lo"),
          max(col("o_orderstatus")).as("hi"))
    }),
    // SUM/COUNT(col) MANIFEST pushdown under the oracle: identity-
    // partition orders on o_orderstatus, ANALYZE (records per-file
    // exact sums + null counts), then GROUP BY the key with SUM — the
    // plan answers entirely from the manifest (PushedAggregates,
    // files=0/N; SumPushdownSpec pins the plan shape). At 100 TB,
    // "revenue per status over a petabyte" is a pure metadata read.
    // DuckDB recomputes the same totals from the raw parquet.
    "snapshot_agg_sum" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-sumq").toString + "/orders_sum"
      SnapshotTable.commitPartitioned(s, root,
        graft.Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_orderpriority"),
        "o_orderstatus")
      SnapshotTable.analyze(s, root)
      s.read.format("graft-snapshot").option("path", root).load()
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("sum_key"),
          count(col("o_orderpriority")).as("n_prio"))
        .orderBy("o_orderstatus")
    }),
    // TIMESTAMP bounds from the MANIFEST, under the oracle: identity-
    // partition events by type, ANALYZE (records per-file epoch-micros
    // ts ranges — TZ-independent instants, catalyst's own coordinate),
    // then "first/last event per type" answers with files=0/N — the
    // 100 TB query every event pipeline runs, as a metadata read.
    "snapshot_agg_ts" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-tsq").toString + "/events_ts"
      SnapshotTable.commitPartitioned(s, root,
        graft.Tables.load(s, dir, "events")
          .select("event_type", "ts", "user_id"),
        "event_type")
      SnapshotTable.analyze(s, root)
      s.read.format("graft-snapshot").option("path", root).load()
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          min(col("ts")).as("first_ts"),
          max(col("ts")).as("last_ts"))
        .orderBy("event_type")
    }),
    // COMPOSITE identity partitioning under the oracle (r14 verdict
    // #5): CREATE TABLE ... PARTITIONED BY (o_orderstatus,
    // o_orderpriority) in pure SQL, INSERT the orders rows (the V2
    // write clusters by the TUPLE and splits one file per distinct
    // tuple — every file tuple-pure), then GROUP BY both keys UNDER
    // a filter on the SECOND key. The filter is CONSUMED (decided
    // exactly per file) and the aggregate answers ENTIRELY from the
    // manifest (PushedAggregates, files=0/N — PlanGoldenSpec pins
    // it). The date × tenant layout every 100 TB pipeline uses, as a
    // pure metadata read. DuckDB recomputes from the raw parquet.
    "snapshot_partition_multi" -> ((s, dir) => {
      val wh = catalogWarehouse
      val t = uniqueName("ord_mp")
      s.conf.set("spark.sql.catalog.graft_mp",
        classOf[graft.sources.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_mp.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_mp.db")
      s.sql(s"CREATE TABLE graft_mp.db.$t (o_orderkey BIGINT, " +
        "o_orderstatus STRING, o_orderpriority STRING) " +
        "PARTITIONED BY (o_orderstatus, o_orderpriority)")
      graft.Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .createOrReplaceTempView(s"src_$t")
      s.sql(s"INSERT INTO graft_mp.db.$t SELECT * FROM src_$t")
      s.sql("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
        "count(o_orderpriority) AS np, " +
        "min(o_orderstatus) AS lo, max(o_orderpriority) AS hi " +
        s"FROM graft_mp.db.$t " +
        "WHERE o_orderpriority >= '2' " +
        "GROUP BY o_orderstatus, o_orderpriority " +
        "ORDER BY o_orderstatus, o_orderpriority")
    }),
    // COMPOSITE layout × SUM slots: ANALYZE a two-key table, then
    // GROUP BY the tuple with SUM + COUNT(col) — per-group sums fold
    // the matching files' exact-sum slots, zero data IO (files=0/N) —
    // and COUNT(DISTINCT second_key) answers ungrouped from the
    // per-file constants. "revenue per (day, tenant) over a
    // petabyte" as a metadata read.
    "snapshot_agg_sum_multi" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-summ").toString + "/orders_summ"
      SnapshotTable.commitPartitionedOn(s, root,
        graft.Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_orderpriority"),
        Seq("o_orderstatus", "o_orderpriority"))
      SnapshotTable.analyze(s, root)
      val t = s.read.format("graft-snapshot").option("path", root)
        .load()
      t.groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("sum_key"))
        .crossJoin(t.agg(
          countDistinct(col("o_orderpriority")).as("n_prio")))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),
    // PARTITION-SPEC EVOLUTION under the oracle (r14 verdict #6):
    // create PARTITIONED BY (o_orderstatus), insert the even keys,
    // ALTER TABLE ... SET TBLPROPERTIES evolve the layout to
    // (o_orderstatus, o_orderpriority) — METADATA-ONLY, no version,
    // no file rewritten — then insert the odd keys on the new spec.
    // The query spans the boundary twice: GROUP BY the SHARED key
    // still answers from the manifest (both eras are status-pure —
    // files=0/N, PlanGoldenSpec pins it), while a count under a
    // filter on the NEW key scans exactly (prunes the new era by
    // stats, keeps the old era conservatively). DuckDB recomputes
    // both from the raw parquet.
    "snapshot_partition_evolve" -> ((s, dir) => {
      val wh = catalogWarehouse
      val t = uniqueName("ord_pe")
      s.conf.set("spark.sql.catalog.graft_pe",
        classOf[graft.sources.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_pe.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_pe.db")
      s.sql(s"CREATE TABLE graft_pe.db.$t (o_orderkey BIGINT, " +
        "o_orderstatus STRING, o_orderpriority STRING) " +
        "PARTITIONED BY (o_orderstatus)")
      graft.Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .createOrReplaceTempView(s"src_$t")
      s.sql(s"INSERT INTO graft_pe.db.$t " +
        s"SELECT * FROM src_$t WHERE o_orderkey % 2 = 0")
      s.sql(s"ALTER TABLE graft_pe.db.$t SET TBLPROPERTIES " +
        "('graft.partition.key' = 'o_orderstatus,o_orderpriority')")
      s.sql(s"INSERT INTO graft_pe.db.$t " +
        s"SELECT * FROM src_$t WHERE o_orderkey % 2 <> 0")
      s.sql(
        s"""SELECT a.o_orderstatus, a.n, a.nk, b.n_urgent
           |FROM (SELECT o_orderstatus, count(*) AS n,
           |        count(o_orderstatus) AS nk
           |      FROM graft_pe.db.$t GROUP BY o_orderstatus) a
           |JOIN (SELECT o_orderstatus, count(*) AS n_urgent
           |      FROM graft_pe.db.$t
           |      WHERE o_orderpriority = '1-URGENT'
           |      GROUP BY o_orderstatus) b
           |  ON a.o_orderstatus = b.o_orderstatus
           |ORDER BY a.o_orderstatus""".stripMargin)
    }),
    // t.partitions METADATA TABLE under the oracle: per-tuple row
    // counts of a composite identity layout, answered entirely from
    // each file's recorded purity facts (zero data IO — the first
    // question any 100 TB maintenance job asks: "how is this table
    // laid out, and how big is each partition"). DuckDB recomputes
    // the same rollup from the raw parquet.
    "snapshot_partitions_meta" -> ((s, dir) => {
      val wh = catalogWarehouse
      val t = uniqueName("ord_pm")
      s.conf.set("spark.sql.catalog.graft_pm",
        classOf[graft.sources.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_pm.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_pm.db")
      s.sql(s"CREATE TABLE graft_pm.db.$t (o_orderkey BIGINT, " +
        "o_orderstatus STRING, o_orderpriority STRING) " +
        "PARTITIONED BY (o_orderstatus, o_orderpriority)")
      graft.Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .createOrReplaceTempView(s"src_$t")
      s.sql(s"INSERT INTO graft_pm.db.$t SELECT * FROM src_$t")
      s.sql("SELECT partition['o_orderstatus'] AS o_orderstatus, " +
        "partition['o_orderpriority'] AS o_orderpriority, " +
        s"rows AS n FROM graft_pm.db.$t.partitions " +
        "ORDER BY o_orderstatus, o_orderpriority")
    }),
    // COUNT(DISTINCT key) from the MANIFEST on a value-pure table:
    // the distinct set is exactly the set of per-file constants.
    "snapshot_count_distinct" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-cdq").toString + "/orders_cd"
      SnapshotTable.commitPartitioned(s, root,
        graft.Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_orderpriority"),
        "o_orderstatus")
      s.read.format("graft-snapshot").option("path", root).load()
        .agg(countDistinct(col("o_orderstatus")).as("k"))
    }),
    // MOR TOMBSTONES over an identity layout, under the oracle: the
    // manifest GROUP BY must DECLINE (per-file counts/sums overcount
    // killed rows) and the row-level scan with kill vectors answers —
    // plus an SPJ-shaped join back onto the same identity key.
    // Proves "kills never move a row across partition values": the
    // per-status aggregates equal DuckDB recomputing with the same
    // rows deleted.
    "snapshot_partition_mor" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-pmor").toString + "/orders_mor"
      val o = graft.Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
      SnapshotTable.commitPartitioned(s, root, o, "o_orderstatus")
      SnapshotTable.deleteKeysOnRead(s, root,
        o.filter(col("o_orderkey") % 13 === 0)
          .select("o_orderkey"), "o_orderkey")
      val t = s.read.format("graft-snapshot").option("path", root)
        .load()
      val dim = t.groupBy("o_orderstatus")
        .agg(countDistinct(col("o_orderpriority")).as("n_prio"))
      t.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"),
          min(col("o_orderkey")).as("min_key"))
        .join(dim, "o_orderstatus")
        .orderBy("o_orderstatus")
    }),
    // RETRACTION-CORRECT CDC MV under the oracle: commit orders, MOR-
    // delete a slice and MOR-update another, then let cdcFeedRetract
    // consume the changelog (preImage deletes subtract, updates net as
    // delete+insert) and read the maintained rollup. DuckDB recomputes
    // the same rollup from the base table with the same rows deleted /
    // tripled — every signed delta the stream applied must land
    // bit-exact (decimal sums, integer counts).
    "snapshot_mv_retract" -> ((s, dir) => {
      val src = java.nio.file.Files
        .createTempDirectory("graft-mvr").toString + "/orders_src"
      val cp = java.nio.file.Files
        .createTempDirectory("graft-mvr-cp").toString
      val o = graft.Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      SnapshotTable.commit(s, src, o, clusterKey = Some("o_orderkey"))
      val iv = MaterializedView.IncrementalView(src,
        src + "_view", keys = Seq("o_orderstatus"),
        sumCols = Seq("o_totalprice"))
      val q = MaterializedView.cdcFeedRetract(s, iv, cp)
      try {
        q.processAllAvailable() // bootstrap rollup of v1
        // the row-level commits land AFTER the bootstrap, so the
        // stream itself applies the preImage retractions
        SnapshotTable.deleteKeysOnRead(s, src,
          o.filter(col("o_orderkey") % 7 === 0).select("o_orderkey"),
          "o_orderkey")                                         // v2
        SnapshotTable.mergeOnRead(s, src,
          o.filter(col("o_orderkey") % 11 === 0 &&
              col("o_orderkey") % 7 =!= 0)
            .withColumn("o_totalprice", col("o_totalprice") * 3),
          "o_orderkey")                                         // v3
        q.processAllAvailable()
      } finally q.stop()
      // integer-cents compare surface (no DecimalType may be hashed)
      MaterializedView.read(s, iv)
        .select(col("o_orderstatus"), col("n"),
          (col("sum_o_totalprice") * lit(100)).cast("long")
            .as("sum_cents"), col("cnt_o_totalprice"))
        .orderBy("o_orderstatus")
    }),
    // INCREMENTALLY-MAINTAINED JOIN MV under the oracle: a fact ⋈ dim
    // rollup (revenue by customer segment) kept exact through a fact
    // MOR-delete, a dim MOR-update (segment reassignment) and a fact
    // append — each by ONE incremental refresh applying the bilinear
    // delta Δ(F⋈D) = ΔF⋈D_new + F_old⋈ΔD with key-pruned table reads.
    // DuckDB recomputes the join rollup from scratch over the same
    // final logical state; every signed leg must land bit-exact.
    "snapshot_mv_join" -> ((s, dir) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft-mvj").toString
      val fact = graft.Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val dim = graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val jv = MaterializedView.JoinView(
        base + "/fact", base + "/dim", base + "/view",
        factKey = "o_custkey", dimKey = "c_custkey",
        keys = Seq("c_mktsegment"), sumCols = Seq("o_totalprice"),
        // r17: the derived served-exact average rides the same
        // telescoping refresh — oracled as the identical
        // decimal-sum→double quotient
        avgCols = Seq("o_totalprice"))
      SnapshotTable.commit(s, jv.factRoot, fact,
        clusterKey = Some("o_custkey"))
      SnapshotTable.commit(s, jv.dimRoot, dim,
        clusterKey = Some("c_custkey"))
      MaterializedView.refreshJoinIncremental(s, jv) // bootstrap
      SnapshotTable.deleteKeysOnRead(s, jv.factRoot,
        fact.filter(col("o_orderkey") % 13 === 0).select("o_orderkey"),
        "o_orderkey")
      MaterializedView.refreshJoinIncremental(s, jv) // ΔF only (kills)
      SnapshotTable.mergeOnRead(s, jv.dimRoot,
        dim.filter(col("c_custkey") % 7 === 0)
          .withColumn("c_mktsegment", lit("MOVED")),
        "c_custkey")
      MaterializedView.refreshJoinIncremental(s, jv) // ΔD only
      SnapshotTable.append(s, jv.factRoot,
        fact.filter(col("o_orderkey") % 17 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_custkey"),
            (col("o_totalprice") * 2).as("o_totalprice")))
      MaterializedView.refreshJoinIncremental(s, jv) // ΔF only (append)
      // the hashed compare surface is INTEGER CENTS: the view's
      // DECIMAL(20,2) sum is exact, but DecimalType columns hash red
      // in the driver even when cell-identical (the
      // snapshot_widen_decimal lesson) — scale=2 × 100 is an exact
      // int64 on both engines
      MaterializedView.read(s, jv)
        .select(col("c_mktsegment"), col("n"),
          (col("sum_o_totalprice") * lit(100)).cast("long")
            .as("sum_cents"), col("cnt_o_totalprice"),
          col("avg_o_totalprice"))
        .orderBy("c_mktsegment")
    }),
    // ALWAYS-FRESH MV SERVING under the oracle: bootstrap the join
    // rollup, then land a fact MOR-delete, a dim MOR-update and a fact
    // append WITHOUT refreshing — readFresh merges the committed view
    // with the pending two-summand delta AT READ TIME (no view commit)
    // and must equal DuckDB recomputing the join rollup from the final
    // logical state.
    "snapshot_mv_fresh" -> ((s, dir) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft-mvf").toString
      val fact = graft.Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val dim = graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val jv = MaterializedView.JoinView(
        base + "/fact", base + "/dim", base + "/view",
        factKey = "o_custkey", dimKey = "c_custkey",
        keys = Seq("c_mktsegment"), sumCols = Seq("o_totalprice"))
      SnapshotTable.commit(s, jv.factRoot, fact,
        clusterKey = Some("o_custkey"))
      SnapshotTable.commit(s, jv.dimRoot, dim,
        clusterKey = Some("c_custkey"))
      MaterializedView.refreshJoinIncremental(s, jv) // bootstrap only
      SnapshotTable.deleteKeysOnRead(s, jv.factRoot,
        fact.filter(col("o_orderkey") % 19 === 0).select("o_orderkey"),
        "o_orderkey")
      SnapshotTable.mergeOnRead(s, jv.dimRoot,
        dim.filter(col("c_custkey") % 5 === 0)
          .withColumn("c_mktsegment", lit("FRESH")),
        "c_custkey")
      SnapshotTable.append(s, jv.factRoot,
        fact.filter(col("o_orderkey") % 29 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_custkey"),
            (col("o_totalprice") * 2).as("o_totalprice")))
      // NO refresh: the read itself merges the pending delta.
      // integer-cents compare surface (no DecimalType may be hashed)
      MaterializedView.readFresh(s, jv)
        .select(col("c_mktsegment"), col("n"),
          (col("sum_o_totalprice") * lit(100)).cast("long")
            .as("sum_cents"), col("cnt_o_totalprice"))
        .orderBy("c_mktsegment")
    }),
    // THE REFERENCE'S DASHBOARD, maintained instead of recomputed:
    // the reference re-runs every aggregation per page load
    // (api-service/data_service.py); here the per-type rollup is an
    // IncrementalView over the events table with MIN/MAX columns, and
    // the serve path is readFresh — a late batch and a GDPR-style
    // user erasure land WITHOUT a refresh, yet the read is exact.
    // DuckDB recomputes the dashboard from the final logical state.
    "events_mv_dashboard" -> ((s, dir) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft-evmv").toString
      val ev = graft.Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val iv = MaterializedView.IncrementalView(base + "/src",
        base + "/view", keys = Seq("event_type"),
        sumCols = Seq("value"), minMaxCols = Seq("value"))
      SnapshotTable.commit(s, iv.sourceRoot,
        ev.filter(col("event_id") % 5 =!= 0),
        clusterKey = Some("event_type"), bloomKey = Some("event_id"))
      MaterializedView.refreshIncremental(s, iv) // materialize once
      // a late batch arrives and one user exercises erasure — the
      // dashboard is served fresh WITHOUT recomputing or refreshing
      SnapshotTable.append(s, iv.sourceRoot,
        ev.filter(col("event_id") % 5 === 0))
      SnapshotTable.deleteKeysOnRead(s, iv.sourceRoot,
        ev.filter(col("user_id") % 97 === 0).select("event_id"),
        "event_id")
      // integer-cents compare surface (no DecimalType may be hashed)
      MaterializedView.readFresh(s, iv)
        .select(col("event_type"), col("n"),
          (col("sum_value") * lit(100)).cast("long").as("sum_cents"),
          col("cnt_value"), col("min_value"), col("max_value"))
        .orderBy("event_type")
    }),
    // WRITE-AUDIT-PUBLISH under the oracle: stage a batch on an
    // isolated BRANCH (main readers untouched), AUDIT the staged
    // snapshot with declared expectations, REFUSE the publish when
    // violations exist, re-stage the quarantine-cleaned batch on a
    // fresh branch, and PUBLISH via fast-forward — a metadata pointer
    // jump, zero data IO. DuckDB sees only what main should serve:
    // base orders plus the CLEAN half of the batch; the bad rows'
    // bytes exist on disk but were never published.
    "snapshot_wap" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-wap").toString + "/orders_wap"
      val o = graft.Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      SnapshotTable.commit(s, root, o,
        clusterKey = Some("o_orderkey"))                      // v1 main
      val good = o.filter(col("o_orderkey") % 41 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_orderstatus"),
          (col("o_totalprice") * 2).as("o_totalprice"))
      val bad = o.filter(col("o_orderkey") % 83 === 0)
        .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
          col("o_orderstatus"),
          (-col("o_totalprice")).as("o_totalprice"))
      val checks = Seq(
        "positive_price" -> (col("o_totalprice") > 0))
      // WRITE: the full batch lands on the audit branch only
      SnapshotTable.createBranch(s, root, "audit")
      SnapshotTable.append(s, root, good.unionByName(bad),
        branch = "audit")
      // AUDIT the staged snapshot; violations REFUSE the publish
      val staged = SnapshotTable.readBranch(s, root, "audit")
      val (_, quarantined) = graft.operators.Expectations
        .split(staged, checks)
      require(quarantined.limit(1).count() > 0,
        "fixture: the staged batch must contain violations")
      SnapshotTable.dropBranch(s, root, "audit")
      // re-stage only the rows that pass every expectation
      SnapshotTable.createBranch(s, root, "audit-clean")
      SnapshotTable.append(s, root,
        graft.operators.Expectations
          .split(good.unionByName(bad), checks)._1,
        branch = "audit-clean")
      val (_, quar2) = graft.operators.Expectations.split(
        SnapshotTable.readBranch(s, root, "audit-clean"), checks)
      require(quar2.limit(1).count() == 0,
        "fixture: the cleaned stage must audit green")
      // PUBLISH: fast-forward main onto the audited head
      SnapshotTable.fastForward(s, root, "audit-clean", "main")
      // integer-cents compare surface (no DecimalType may be hashed);
      // decimal aggregation stays the feature, ×100→int64 is exact
      s.read.format("graft-snapshot").option("path", root).load()
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(col("o_totalprice").cast("decimal(20,2)")) * lit(100))
            .cast("long").as("sum_price_cents"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    }),
    // MIN/MAX MV MAINTENANCE under the oracle: extrema are not
    // invertible under deletes, so the view recomputes exactly the
    // delete-touched groups (key-pruned) and merges everything else
    // algebraically. History: append rows that move both extrema
    // monotonically, then MOR-delete a slice INCLUDING current group
    // minima — the runner-up must surface. DuckDB recomputes from the
    // final state.
    "snapshot_mv_minmax" -> ((s, dir) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft-mvm").toString
      val o = graft.Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      val iv = MaterializedView.IncrementalView(base + "/src",
        base + "/view", keys = Seq("o_orderstatus"),
        sumCols = Seq("o_totalprice"),
        minMaxCols = Seq("o_totalprice", "o_orderkey"))
      SnapshotTable.commit(s, iv.sourceRoot, o,
        clusterKey = Some("o_orderstatus"),
        bloomKey = Some("o_orderkey"))
      MaterializedView.refreshIncremental(s, iv) // bootstrap
      SnapshotTable.append(s, iv.sourceRoot,
        o.filter(col("o_orderkey") % 11 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_orderstatus"),
            (col("o_totalprice") * 4).as("o_totalprice")))
      MaterializedView.refreshIncremental(s, iv) // monotone merge
      SnapshotTable.deleteKeysOnRead(s, iv.sourceRoot,
        o.filter(col("o_orderkey") % 3 === 0).select("o_orderkey"),
        "o_orderkey")
      MaterializedView.refreshIncremental(s, iv) // bounded recompute
      // integer-cents compare surface (no DecimalType may be hashed)
      MaterializedView.read(s, iv)
        .select(col("o_orderstatus"), col("n"),
          (col("sum_o_totalprice") * lit(100)).cast("long")
            .as("sum_cents"), col("cnt_o_totalprice"),
          col("min_o_totalprice"), col("max_o_totalprice"),
          col("min_o_orderkey"), col("max_o_orderkey"))
        .orderBy("o_orderstatus")
    }),
    // THE MV LAYER THROUGH SQL ALONE, oracled: CREATE TABLE (CTAS),
    // CALL graft.system.create_mv (bootstraps the rollup and persists
    // the definition as view properties), row-level DELETE + INSERT on
    // the source through SQL, CALL refresh_mv (reconstructs the
    // definition BY NAME and runs the incremental path — the DELETE
    // exercises the min/max delete-touched recompute), SELECT the view
    // back as an ordinary catalog table. DuckDB recomputes the rollup
    // from the final logical state.
    "snapshot_mv_sql" -> ((s, dir) => {
      val tbl = uniqueName("ord_mvsql")
      val view = uniqueName("mv_mvsql")
      s.conf.set("spark.sql.catalog.graft_mvq",
        classOf[graft.sources.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_mvq.warehouse",
        catalogWarehouse)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_mvq.db")
      graft.Tables.load(s, dir, "orders")
        .createOrReplaceTempView("orders_mvsql_src")
      s.sql(
        s"""CREATE TABLE graft_mvq.db.$tbl AS
          |SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM orders_mvsql_src""".stripMargin)
      s.sql(s"CALL graft_mvq.system.create_mv('db.$view', 'db.$tbl', " +
        "'o_orderstatus', 'o_totalprice', 'o_orderkey')")
      s.sql(s"DELETE FROM graft_mvq.db.$tbl WHERE o_orderkey % 7 = 0")
      s.sql(
        s"""INSERT INTO graft_mvq.db.$tbl
          |SELECT o_orderkey + 10000000, o_orderstatus,
          |  o_totalprice * 2
          |FROM orders_mvsql_src WHERE o_orderkey % 11 = 0""".stripMargin)
      s.sql(s"CALL graft_mvq.system.refresh_mv('db.$view')")
      // integer-cents compare surface (no DecimalType may be hashed)
      s.sql(
        s"""SELECT o_orderstatus, n,
          |  CAST(sum_o_totalprice * 100 AS BIGINT) AS sum_cents,
          |  cnt_o_totalprice, min_o_orderkey, max_o_orderkey
          |FROM graft_mvq.db.$view
          |ORDER BY o_orderstatus""".stripMargin)
    }),
    // MV WITH A SERVED-EXACT AVG through SQL alone, oracled: create_mv
    // accepts aggregate SPECS ('col:sum', 'col:avg', 'col:ndv'), and
    // avg is DERIVED — the view maintains the (decimal sum, non-null
    // count) pair and re-materializes avg = CAST(sum AS DOUBLE)/cnt on
    // every merge, so the served average is always the exact quotient
    // of exact parts (never an averaged average). The history includes
    // a DELETE tick, so the delta path proves avg exact under
    // retractions too. DuckDB recomputes the same quotient from the
    // final logical state.
    "snapshot_mv_avg_sql" -> ((s, dir) => {
      val tbl = uniqueName("ord_mvavg")
      val view = uniqueName("mv_mvavg")
      s.conf.set("spark.sql.catalog.graft_mvq",
        classOf[graft.sources.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_mvq.warehouse",
        catalogWarehouse)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_mvq.db")
      graft.Tables.load(s, dir, "orders")
        .createOrReplaceTempView("orders_mvavg_src")
      s.sql(
        s"""CREATE TABLE graft_mvq.db.$tbl AS
          |SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM orders_mvavg_src""".stripMargin)
      s.sql(s"CALL graft_mvq.system.create_mv('db.$view', 'db.$tbl', " +
        "'o_orderstatus', 'o_totalprice:sum,o_totalprice:avg', '')")
      s.sql(s"DELETE FROM graft_mvq.db.$tbl WHERE o_orderkey % 5 = 0")
      s.sql(
        s"""INSERT INTO graft_mvq.db.$tbl
          |SELECT o_orderkey + 20000000, o_orderstatus,
          |  o_totalprice * 3
          |FROM orders_mvavg_src WHERE o_orderkey % 13 = 0""".stripMargin)
      s.sql(s"CALL graft_mvq.system.refresh_mv('db.$view')")
      s.sql(
        s"""SELECT o_orderstatus, n,
          |  CAST(sum_o_totalprice * 100 AS BIGINT) AS sum_cents,
          |  cnt_o_totalprice, avg_o_totalprice
          |FROM graft_mvq.db.$view
          |ORDER BY o_orderstatus""".stripMargin)
    }),
    // LEXICAL RETRIEVAL THROUGH SQL ALONE, oracled: CTAS the documents
    // into the catalog, CALL create_text_index (persisted BM25
    // postings, analyzer recorded), CALL search_text with AND
    // semantics — the procedure tokenizes the query string with the
    // index's own analyzer and returns the ranked top-k directly.
    // DuckDB recomputes conjunctive BM25 from the raw table.
    "docs_text_index_sql" -> ((s, dir) => {
      val tbl = uniqueName("docs_txq")
      val ix = uniqueName("ix_txq")
      s.conf.set("spark.sql.catalog.graft_txq",
        classOf[graft.sources.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_txq.warehouse",
        catalogWarehouse)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_txq.db")
      graft.Tables.load(s, dir, "documents")
        .select("doc_id", "text")
        .createOrReplaceTempView("docs_txq_src")
      s.sql(s"CREATE TABLE graft_txq.db.$tbl AS " +
        "SELECT doc_id, text FROM docs_txq_src")
      s.sql(s"CALL graft_txq.system.create_text_index(" +
        s"'db.$ix', 'db.$tbl', 32, 'whitespace')")
      s.sql(s"CALL graft_txq.system.search_text(" +
        s"'db.$ix', 'customer merge', 20, 'and')")
    }),
    // STAR-SCHEMA MV under the oracle: a lineitem ⋈ part ⋈ supplier
    // rollup maintained incrementally from ALL THREE tables' deltas by
    // the telescoping rule (one signed-delta factor per summand, old
    // states left of it, new states right). History: fact MOR-delete,
    // each dim MOR-updated in turn, then a fact append + dim update in
    // ONE refresh (the cross term). DuckDB recomputes the 3-way join
    // rollup from the final logical state.
    "snapshot_mv_star" -> ((s, dir) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft-mvs").toString
      // a 1/4 slice keeps the fixture at the same scale as the other
      // snapshot_* queries (orders-sized) — the maintenance path is
      // identical, the oracle mirrors the slice
      val li = graft.Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") % 4 === 1)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"))
      val part = graft.Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))
      val supp = graft.Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val sv = MaterializedView.StarView(
        factRoot = base + "/li", viewRoot = base + "/view",
        dims = Seq(
          MaterializedView.StarDim(base + "/part",
            "l_partkey", "p_partkey"),
          MaterializedView.StarDim(base + "/supp",
            "l_suppkey", "s_suppkey")),
        keys = Seq("p_brand", "s_nationkey"),
        sumCols = Seq("l_extendedprice"))
      SnapshotTable.commit(s, sv.factRoot, li,
        clusterKey = Some("l_partkey"))
      SnapshotTable.commit(s, sv.dims(0).root, part,
        clusterKey = Some("p_partkey"))
      SnapshotTable.commit(s, sv.dims(1).root, supp,
        clusterKey = Some("s_suppkey"))
      MaterializedView.refreshStarIncremental(s, sv) // bootstrap
      SnapshotTable.deleteKeysOnRead(s, sv.factRoot,
        li.filter(col("l_orderkey") % 13 === 0).select("l_orderkey"),
        "l_orderkey")
      MaterializedView.refreshStarIncremental(s, sv) // ΔF (kills)
      SnapshotTable.mergeOnRead(s, sv.dims(0).root,
        part.filter(col("p_partkey") % 10 === 0)
          .withColumn("p_brand", lit("Brand#99")), "p_partkey")
      MaterializedView.refreshStarIncremental(s, sv) // ΔD1
      SnapshotTable.mergeOnRead(s, sv.dims(1).root,
        supp.filter(col("s_suppkey") % 5 === 0)
          .withColumn("s_nationkey", lit(-1).cast("int")), "s_suppkey")
      MaterializedView.refreshStarIncremental(s, sv) // ΔD2
      SnapshotTable.append(s, sv.factRoot,
        li.filter(col("l_orderkey") % 23 === 0)
          .select((col("l_orderkey") + 90000000L).as("l_orderkey"),
            col("l_partkey"), col("l_suppkey"),
            (col("l_extendedprice") * 2).as("l_extendedprice")))
      SnapshotTable.mergeOnRead(s, sv.dims(0).root,
        part.filter(col("p_partkey") % 17 === 0)
          .withColumn("p_brand", lit("Brand#77")), "p_partkey")
      MaterializedView.refreshStarIncremental(s, sv) // ΔF + ΔD1 at once
      // integer-cents compare surface (no DecimalType may be hashed)
      MaterializedView.read(s, sv)
        .select(col("p_brand"), col("s_nationkey"), col("n"),
          (col("sum_l_extendedprice") * lit(100)).cast("long")
            .as("sum_cents"), col("cnt_l_extendedprice"))
        .orderBy("p_brand", "s_nationkey")
    }),
    // ROLLBACK under the oracle: a bad day (MOR delete + junk append)
    // is undone by rollbackTo — a metadata-only commit restoring v1's
    // files — and the table then moves FORWARD from the restored
    // state. DuckDB sees only the final logical state: base orders
    // plus the post-rollback append; the deleted slice is back and
    // the junk never existed.
    "snapshot_rollback" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-rb-q").toString + "/orders_rb"
      val o = graft.Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      SnapshotTable.commit(s, root, o,
        clusterKey = Some("o_orderkey"))                      // v1
      SnapshotTable.deleteKeysOnRead(s, root,
        o.filter(col("o_orderkey") % 7 === 0).select("o_orderkey"),
        "o_orderkey")                                         // v2
      SnapshotTable.append(s, root,
        o.limit(25).select(
          (col("o_orderkey") + 90000000L).as("o_orderkey"),
          lit("X").as("o_orderstatus"), col("o_totalprice"))) // v3
      SnapshotTable.rollbackTo(s, root, 1L)                   // v4 = v1
      SnapshotTable.append(s, root,
        o.filter(col("o_orderkey") % 31 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_orderstatus"),
            (col("o_totalprice") * 2).as("o_totalprice")))    // v5
      // integer-cents compare surface (no DecimalType may be hashed)
      s.read.format("graft-snapshot").option("path", root).load()
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(col("o_totalprice").cast("decimal(20,2)")) * lit(100))
            .cast("long").as("sum_price_cents"),
          min(col("o_orderkey")).as("min_key"))
        .orderBy("o_orderstatus")
    }),
    // RENAME COLUMN under the oracle: commit orders, ALTER TABLE
    // RENAME COLUMN o_totalprice TO price — a metadata-only commit
    // recording a physical-name epoch; pre-rename files still store
    // the bytes under the old name and per-file readers translate —
    // then append rows under the NEW name and aggregate ACROSS both
    // populations, filtering on the renamed column so the translated
    // pushdown path is on the hot line. The oracle reconstructs the
    // same rows from the base table with a plain alias.
    "snapshot_rename_column" -> ((s, dir) => {
      val wh = catalogWarehouse
      val t = uniqueName("ord_rn")
      s.conf.set("spark.sql.catalog.graft_rnq",
        classOf[graft.sources.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_rnq.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_rnq.db")
      val root = s"$wh/db/$t"
      val o = graft.Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      SnapshotTable.commit(s, root, o)                        // v1
      s.sql(s"ALTER TABLE graft_rnq.db.$t " +
        "RENAME COLUMN o_totalprice TO price")                // v2
      SnapshotTable.append(s, root,
        o.filter(col("o_orderkey") % 101 === 0 &&
            col("o_orderkey") > 0)
          .select((-col("o_orderkey")).as("o_orderkey"),
            lit("R").as("o_orderstatus"),
            (col("o_totalprice") * 2).as("price")))           // v3
      s.table(s"graft_rnq.db.$t")
        .filter(col("price") > lit(1000.0))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(price AS DECIMAL(18,2))"))
            .cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"))
        .orderBy("o_orderstatus")
    }),
    // Initial defaults under the oracle: commit orders, ALTER TABLE
    // ADD COLUMNS (prio BIGINT DEFAULT 7) — an Iceberg-style initial
    // default — then append rows carrying EXPLICIT prio values. The
    // evolved read must surface 7 (not NULL) for every pre-evolution
    // row and the stored values for appended ones; the oracle
    // reconstructs both populations from the base table, so matching
    // hashes prove the read-side fill (versioned at the adding
    // commit) end-to-end through the connector scan.
    "snapshot_initial_default" -> ((s, dir) => {
      val wh = catalogWarehouse
      val t = uniqueName("ord_idf")
      s.conf.set("spark.sql.catalog.graft_idq",
        classOf[graft.sources.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_idq.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_idq.db")
      val root = s"$wh/db/$t"
      val o = graft.Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      SnapshotTable.commit(s, root, o)                        // v1
      s.sql(s"ALTER TABLE graft_idq.db.$t " +
        "ADD COLUMNS (prio BIGINT DEFAULT 7)")                // v2
      o.filter(col("o_orderkey") % 83 === 0 &&
          col("o_orderkey") > 0)
        .select((-col("o_orderkey")).as("o_orderkey"),
          lit("D").as("o_orderstatus"), col("o_totalprice"),
          (col("o_orderkey") % 5).as("prio"))
        .createOrReplaceTempView("graft_idf_src")
      s.sql(s"INSERT INTO graft_idq.db.$t " +
        "SELECT * FROM graft_idf_src")                        // v3
      s.table(s"graft_idq.db.$t")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("prio")).as("sum_prio"),
          min(col("prio")).as("min_prio"),
          max(col("prio")).as("max_prio"),
          min(col("o_orderkey")).as("min_key"))
        .orderBy("o_orderstatus")
    }),
    // Bucketed layout under the oracle: orders and customer committed
    // HASH-BUCKETED on the customer key (commitBucketed — the
    // storage-partitioned-join layout whose zero-Exchange plan the
    // spec pins), then joined and rolled up through the catalog with
    // v2 bucketing enabled, so the scans serve bucket-grouped
    // partitions. The oracle runs the plain join on the base tables;
    // matching hashes prove bucket assignment, per-bucket file
    // grouping and the chained bucket readers lose and duplicate
    // nothing.
    "snapshot_spj_join" -> ((s, dir) => {
      val wh = catalogWarehouse
      val (ordT, custT) = (uniqueName("ord_b"), uniqueName("cust_b"))
      s.conf.set("spark.sql.catalog.graft_spjq",
        classOf[graft.sources.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_spjq.warehouse", wh)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_spjq.db")
      val o = graft.Tables.load(s, dir, "orders")
        .select("o_custkey", "o_orderstatus", "o_totalprice")
      val c = graft.Tables.load(s, dir, "customer")
        .select("c_custkey", "c_mktsegment")
      SnapshotTable.commitBucketed(s, s"$wh/db/$ordT", o,
        "o_custkey", 8)
      SnapshotTable.commitBucketed(s, s"$wh/db/$custT", c,
        "c_custkey", 8)
      s.table(s"graft_spjq.db.$ordT")
        .join(s.table(s"graft_spjq.db.$custT"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(o_totalprice AS DECIMAL(18,2))"))
            .cast("double").as("total"))
        .orderBy("c_mktsegment", "o_orderstatus")
    }),
    // COMPOSITE (grid) bucket layout under the oracle: both sides
    // committed on the same two-key grid (commitBucketedOn — one
    // per-column bucket transform per key, the only SPJ-alignable
    // shape), joined on the full tuple through the catalog with v2
    // bucketing enabled, so the scans serve per-cell partitions keyed
    // by the bucket tuple. The oracle runs the plain two-key join on
    // the base tables; matching hashes prove grid-cell assignment,
    // decomposition and the aligned join lose and duplicate nothing.
    "snapshot_spj_grid" -> ((s, dir) => {
      val wh = catalogWarehouse
      val (ordT, custT) = (uniqueName("ord_g"), uniqueName("cust_g"))
      s.conf.set("spark.sql.catalog.graft_gridq",
        classOf[graft.sources.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_gridq.warehouse", wh)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gridq.db")
      val o = graft.Tables.load(s, dir, "orders")
        .select(col("o_custkey"),
          (col("o_orderkey") % 7).as("o_lane"),
          col("o_totalprice"))
      val c = graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
        .crossJoin(s.range(7).select(col("id").as("c_lane")))
      SnapshotTable.commitBucketedOn(s, s"$wh/db/$ordT", o,
        Seq("o_custkey" -> 4, "o_lane" -> 3))
      SnapshotTable.commitBucketedOn(s, s"$wh/db/$custT", c,
        Seq("c_custkey" -> 4, "c_lane" -> 3))
      s.table(s"graft_gridq.db.$ordT")
        .join(s.table(s"graft_gridq.db.$custT"),
          col("o_custkey") === col("c_custkey") &&
            col("o_lane") === col("c_lane"))
        .groupBy("c_mktsegment", "o_lane")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(o_totalprice AS DECIMAL(18,2))"))
            .cast("double").as("total"))
        .orderBy("c_mktsegment", "o_lane")
    }),
    // The MERGE-ON-READ twin of snapshot_sql_merge: same statements,
    // same oracle, but the table's TBLPROPERTIES
    // (write.mode=merge-on-read + write.merge.key — the reference's
    // Iceberg delete-mode knobs) route both the SQL UPDATE and the
    // MERGE INTO through delta commits: tombstone + batch appends,
    // zero existing files rewritten. Matching hashes prove the
    // sequence-numbered read-side merge reconstructs exactly the
    // copy-on-write end state.
    "snapshot_sql_mor_merge" -> ((s, dir) => {
      val wh = catalogWarehouse
      val tbl = uniqueName("orders_rlm")
      s.conf.set("spark.sql.catalog.graft_rlmq",
        classOf[graft.sources.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_rlmq.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_rlmq.db")
      val root = s"$wh/db/$tbl"
      val o = graft.Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      SnapshotTable.merge(s, root, o, "o_orderkey", files = 8)
      SnapshotTable.setProperties(s, root, Map(
        "write.mode" -> "merge-on-read",
        "write.merge.key" -> "o_orderkey"))
      s.sql(
        s"""UPDATE graft_rlmq.db.$tbl SET o_totalprice = -1.0
          |WHERE o_orderkey % 10 = 3""".stripMargin)
      o.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_orderstatus", lit("X"))
        .unionByName(o.filter(col("o_orderkey") % 97 === 0 &&
            col("o_orderkey") > 0)
          .select((-col("o_orderkey")).as("o_orderkey"),
            lit("N").as("o_orderstatus"),
            lit(0.5).as("o_totalprice")))
        .createOrReplaceTempView("graft_rlm_src")
      s.sql(
        s"""MERGE INTO graft_rlmq.db.$tbl t
          |USING graft_rlm_src s ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.table(s"graft_rlmq.db.$tbl")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_totalprice") < 0, 1L).otherwise(0L))
            .as("n_updated"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    }),
    // Schema evolution under the oracle: commit a third of orders,
    // append another third CARRYING A NEW COLUMN (disc), and read the
    // evolved table back — pre-evolution rows must surface disc as
    // NULL, appended rows with their values, all from the manifest
    // schema (no footer merging). The oracle reconstructs the same
    // final state with a CASE over the base table; matching hashes
    // prove evolve-on-append + explicit-schema read end to end.
    "snapshot_schema_evolution" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-evo-q")
        .toString + "/orders_evo"
      val o = graft.Tables.load(s, dir, "orders")
      SnapshotTable.commit(s, root, o.filter(col("o_orderkey") % 3 === 0))
      SnapshotTable.append(s, root,
        o.filter(col("o_orderkey") % 3 === 1)
          .withColumn("disc", col("o_orderkey") % 7))
      SnapshotTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          count(col("disc")).as("n_with_disc"),
          sum(col("disc")).as("sum_disc"))
        .orderBy("o_orderstatus")
    }),
    // Secondary-index lookup under the oracle: cluster orders on the
    // ORDER key but bloom the CUSTOMER key — the shape where min/max
    // stats are useless (every file's custkey range spans the table)
    // and the manifest's per-file membership sketches are the only
    // thing standing between a point lookup and a full scan. The
    // oracle filters the base table to the same customers; matching
    // hashes prove bloom pruning never drops a row (no false
    // negatives end to end). The spec proves it actually skips files.
    "snapshot_bloom_lookup" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-bloom-q")
        .toString + "/orders_bloom"
      val o = graft.Tables.load(s, dir, "orders")
      SnapshotTable.commit(s, root, o,
        clusterKey = Some("o_orderkey"), bloomKey = Some("o_custkey"))
      val wanted = o.filter(col("o_custkey") % 97 === 0)
        .select("o_custkey")
      SnapshotTable.readKeys(s, root, "o_custkey", wanted)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          min(col("o_custkey")).as("min_ck"),
          max(col("o_custkey")).as("max_ck"))
        .orderBy("o_orderstatus")
    }),
    // The DSv2 connector under the oracle: commit orders as a
    // clustered snapshot, read it back through
    // format("graft-snapshot") WITH a range predicate — pushdown
    // reaches the connector as PushedFilters and prunes manifest
    // files inside Catalyst planning (the spec asserts the file
    // counts; this row proves the rows that come back are exactly
    // the base table's).
    "snapshot_connector_band" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-dsv2-q")
        .toString + "/orders_c"
      val o = graft.Tables.load(s, dir, "orders")
      SnapshotTable.commit(s, root, o, clusterKey = Some("o_orderkey"))
      s.read.format("graft-snapshot").option("path", root).load()
        .filter(col("o_orderkey") >= 200 && col("o_orderkey") <= 700)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    }),
    // Complete aggregate pushdown under the oracle: COUNT(*)/MIN/MAX
    // answered from the manifest's footer row counts and per-file
    // stats — the GraftAggScan plans one metadata row and opens zero
    // data files; matching the DuckDB aggregate over the base table
    // proves the metadata answer is the exact answer.
    "snapshot_agg_pushdown" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-dsv2-a")
        .toString + "/orders_agg"
      val o = graft.Tables.load(s, dir, "orders")
      SnapshotTable.commit(s, root, o, clusterKey = Some("o_orderkey"))
      s.read.format("graft-snapshot").option("path", root).load()
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_k"),
          max(col("o_orderkey")).as("max_k"))
    }),
    // Nested columns through the connector, under the oracle: the
    // embeddings table (vec_id, array<float> embedding, label)
    // committed as a clustered snapshot and read back through
    // format("graft-snapshot") — the recursive Group decoder serves
    // the vectors, the atomic cluster key still prunes. Aggregates
    // use exact per-element values (size + element_at), not float
    // summation, so the DuckDB compare is bit-deterministic.
    "snapshot_connector_vectors" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-dsv2-v")
        .toString + "/emb_c"
      val e = graft.Tables.load(s, dir, "embeddings")
      SnapshotTable.commit(s, root, e, clusterKey = Some("vec_id"))
      s.read.format("graft-snapshot").option("path", root).load()
        .filter(col("vec_id") < 2000)
        .select(col("label"),
          size(col("embedding")).cast("long").as("dim"),
          element_at(col("embedding"), 1).cast("double").as("x0"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), max(col("dim")).as("dim"),
          min(col("x0")).as("min_x0"), max(col("x0")).as("max_x0"))
        .orderBy("label")
    }),
    // The TableCatalog under the oracle: register a catalog over a
    // fresh warehouse, CTAS half of orders into a NAMED snapshot
    // table, INSERT INTO the other half (a CAS append commit), and
    // aggregate the final table entirely in SQL through its catalog
    // name. The oracle computes the same aggregate over the base
    // table; matching hashes prove CREATE TABLE AS + INSERT INTO +
    // catalog-name reads compose to exactly the base relation.
    "catalog_sql_ingest" -> ((s, dir) => {
      val tbl = uniqueName("orders")
      s.conf.set("spark.sql.catalog.graft_q",
        classOf[graft.sources.connector.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_q.warehouse",
        catalogWarehouse)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q.db")
      graft.Tables.load(s, dir, "orders")
        .createOrReplaceTempView("orders_cat_src")
      s.sql(
        s"""CREATE TABLE graft_q.db.$tbl AS
          |SELECT o_orderkey, o_orderstatus, o_orderpriority,
          |  o_totalprice
          |FROM orders_cat_src WHERE o_orderkey % 2 = 0""".stripMargin)
      s.sql(
        s"""INSERT INTO graft_q.db.$tbl
          |SELECT o_orderkey, o_orderstatus, o_orderpriority,
          |  o_totalprice
          |FROM orders_cat_src WHERE o_orderkey % 2 = 1""".stripMargin)
      s.sql(
        s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total
          |FROM graft_q.db.$tbl
          |GROUP BY o_orderstatus, o_orderpriority
          |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)
    }),
    // Z-order box pruning under the oracle: commit orders Z-ORDERED on
    // (o_orderkey, o_custkey), then answer a range query on the SECOND
    // dimension through readWhere — the multi-dimensional skipping a
    // single-column clustering cannot give. The oracle runs the same
    // band filter over the base table; matching hashes prove box
    // pruning never changes the answer (the spec proves both columns
    // actually skip files).
    "snapshot_zorder_band" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-zord-q")
        .toString + "/orders_z"
      val o = graft.Tables.load(s, dir, "orders")
      SnapshotTable.commitZOrdered(s, root, o,
        "o_orderkey", "o_custkey", files = 8)
      SnapshotTable.readWhere(s, root, "o_custkey",
          lo = Some("100"), hi = Some("250"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          min(col("o_custkey")).as("min_ck"),
          max(col("o_custkey")).as("max_ck"))
        .orderBy("o_orderstatus")
    }),

    // THREE-column Z-order: the curve generalizes past two dims (stats
    // slots become an open list in the manifest), and a conjunctive
    // 3-D box prunes by every dimension at once through readWhereDims.
    // The residual filter keeps the result exact whatever the pruning
    // achieves — which is what lets DuckDB oracle a layout experiment.
    "snapshot_zorder3_box" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-zord3-q")
        .toString + "/orders_z3"
      val o = graft.Tables.load(s, dir, "orders")
      SnapshotTable.commitZOrdered(s, root, o,
        "o_orderkey", "o_custkey", files = 8,
        more = Seq("o_totalprice"))
      // bounds sized to intersect every fixture scale (sf0.001 tops
      // out at o_orderkey 1499 / o_custkey 149)
      SnapshotTable.readWhereDims(s, root, Seq(
          ("o_orderkey", Some("100"), Some("1200")),
          ("o_custkey", Some("10"), Some("120")),
          ("o_totalprice", Some("20000"), Some("400000"))))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_ok"),
          max(col("o_custkey")).as("max_ck"),
          graft.Ql.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderstatus")
    }),
    // Stats-pruned scan under the oracle: cluster orders into a
    // snapshot table (per-file min/max on the key recorded in the
    // manifest), then answer a key-range query through readWhere —
    // scan planning skips every file whose range cannot intersect
    // [1000, 5000] without opening it. The oracle runs the same range
    // query over the base table; matching hashes prove pruning never
    // changes the answer (the spec proves it actually skips files).
    "snapshot_pruned_scan" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-scan-q")
        .toString + "/orders_scan"
      val o = graft.Tables.load(s, dir, "orders")
      SnapshotTable.merge(s, root, o, "o_orderkey")
      SnapshotTable.readWhere(s, root, "o_orderkey",
          lo = Some("1000"), hi = Some("5000"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    }))

  /** Shared ANSI text for the Q21/Q2 shapes — same string runs in
    * Spark and DuckDB (that equivalence is the point of the oracle). */
  private val q21Sql =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier
      |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE o_orderstatus = 'F'
      |  AND l1.l_returnflag = 'R'
      |  AND n_regionkey <= 2
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_returnflag = 'R')
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name""".stripMargin

  private val q2Sql =
    """SELECT p_partkey, p_name, s_name,
      |  CAST(l_extendedprice AS DOUBLE) / CAST(l_quantity AS DOUBLE)
      |    AS unit_price
      |FROM part
      |JOIN lineitem ON p_partkey = l_partkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |WHERE s_nationkey < 13
      |  AND CAST(l_extendedprice AS DOUBLE) / CAST(l_quantity AS DOUBLE) = (
      |    SELECT min(CAST(l2.l_extendedprice AS DOUBLE)
      |        / CAST(l2.l_quantity AS DOUBLE))
      |    FROM lineitem l2 JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
      |    WHERE l2.l_partkey = p_partkey AND s2.s_nationkey < 13)
      |ORDER BY p_partkey, s_name""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "sql_revenue_by_year" ->
      """SELECT year(o_orderdate) AS y,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY year(o_orderdate)
        |ORDER BY y""".stripMargin,
    "sql_segment_priority_matrix" ->
      """SELECT c_mktsegment, o_orderpriority, count(*) AS n
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment, o_orderpriority
        |ORDER BY c_mktsegment, o_orderpriority""".stripMargin,
    "sql_recursive_month_spine" ->
      """WITH RECURSIVE spine(n) AS (
        |  SELECT 0
        |  UNION ALL
        |  SELECT n + 1 FROM spine WHERE n < 83
        |),
        |m AS (SELECT 1992 + n // 12 AS yr, 1 + n % 12 AS mon
        |      FROM spine),
        |o AS (SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mon,
        |        count(*) AS n_orders,
        |        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |          AS DOUBLE) AS revenue
        |      FROM orders WHERE o_orderdate < DATE '1998-09-01'
        |      GROUP BY 1, 2)
        |SELECT m.yr, m.mon, coalesce(o.n_orders, 0) AS n_orders,
        |  coalesce(o.revenue, 0.0) AS revenue
        |FROM m LEFT JOIN o ON m.yr = o.yr AND m.mon = o.mon
        |ORDER BY m.yr, m.mon""".stripMargin,
    "sql_exists_correlated" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_totalprice > 150000)
        |AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "sql_scalar_subquery" ->
      """SELECT c_custkey,
        |  (SELECT CAST(max(o_totalprice) AS DOUBLE) FROM orders
        |   WHERE o_custkey = c_custkey) AS max_order
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "sql_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT)
        |    AS gid,
        |  count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), ())
        |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin,
    "sql_lateral_top_customers" ->
      """SELECT n_name, t.c_name, t.c_acctbal
        |FROM nation,
        |  LATERAL (SELECT c_name, c_acctbal FROM customer
        |           WHERE c_nationkey = n_nationkey
        |           ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        |ORDER BY n_name, t.c_acctbal DESC, t.c_name""".stripMargin,
    "q21_waiting_suppliers" -> q21Sql,
    "q2_min_cost_supplier" -> q2Sql,
    "layout_clustered_band" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE value >= 25.0 AND value < 75.0
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "snapshot_time_travel" ->
      """SELECT version, o_orderstatus, n FROM (
        |  SELECT CAST(1 AS BIGINT) AS version, o_orderstatus,
        |    count(*) AS n FROM orders GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), o_orderstatus, count(*)
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderstatus)
        |ORDER BY version, o_orderstatus""".stripMargin,
    "snapshot_partial_ff" ->
      """SELECT leg, o_orderstatus, n FROM (
        |  SELECT 'main' AS leg, o_orderstatus, count(*) AS n
        |  FROM orders WHERE o_orderstatus IN ('F', 'O')
        |  GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 'branch', o_orderstatus, count(*)
        |  FROM orders WHERE o_orderstatus IN ('F', 'O', 'P')
        |  GROUP BY o_orderstatus)
        |ORDER BY leg, o_orderstatus""".stripMargin,
    "snapshot_incremental_ingest" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  count(CASE WHEN o_orderkey % 30 = 0
        |    OR (o_orderkey % 3 = 2 AND o_orderkey % 7 = 0)
        |    THEN 1 END) AS n_updated
        |FROM orders
        |WHERE o_orderkey % 3 IN (0, 1)
        |   OR o_orderkey % 30 = 0
        |   OR (o_orderkey % 3 = 2 AND o_orderkey % 7 = 0)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_mor_ingest" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  count(CASE WHEN o_orderkey % 30 = 0
        |    OR (o_orderkey % 3 = 2 AND o_orderkey % 7 = 0)
        |    THEN 1 END) AS n_updated
        |FROM orders
        |WHERE (o_orderkey % 3 = 0
        |   OR o_orderkey % 30 = 0
        |   OR (o_orderkey % 3 = 2 AND o_orderkey % 7 = 0))
        |  AND o_orderkey % 60 <> 0
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_pruned_scan" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE o_orderkey BETWEEN 1000 AND 5000
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_delete_where" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE o_orderkey > (SELECT max(o_orderkey) // 3 FROM orders)
        |  AND o_orderkey % 97 <> 0
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_spj_join" ->
      """SELECT c_mktsegment, o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment, o_orderstatus
        |ORDER BY c_mktsegment, o_orderstatus""".stripMargin,
    "snapshot_spj_grid" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey % 7 AS o_lane, o_totalprice
        |  FROM orders),
        |c AS (
        |  SELECT c_custkey, c_mktsegment, l.lane AS c_lane
        |  FROM customer
        |  CROSS JOIN (SELECT range AS lane FROM range(0, 7)) l)
        |SELECT c_mktsegment, o_lane, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total
        |FROM o JOIN c
        |  ON o_custkey = c_custkey AND o_lane = c_lane
        |GROUP BY c_mktsegment, o_lane
        |ORDER BY c_mktsegment, o_lane""".stripMargin,
    "snapshot_sql_mor_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |st AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'X'
        |         ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice
        |         WHEN o_orderkey % 10 = 3 THEN -1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM base
        |  UNION ALL
        |  SELECT -o_orderkey, 'N', 0.5 FROM base
        |  WHERE o_orderkey % 97 = 0 AND o_orderkey > 0)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_updated,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM st GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_sql_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |st AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'X'
        |         ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice
        |         WHEN o_orderkey % 10 = 3 THEN -1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM base
        |  UNION ALL
        |  SELECT -o_orderkey, 'N', 0.5 FROM base
        |  WHERE o_orderkey % 97 = 0 AND o_orderkey > 0)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_updated,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM st GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_branch_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |u AS (
        |  SELECT 'pre' AS side, o_orderkey, o_orderstatus,
        |    o_totalprice FROM base
        |  UNION ALL
        |  SELECT 'merged', o_orderkey, o_orderstatus, o_totalprice
        |  FROM base
        |  UNION ALL
        |  SELECT 'merged', -o_orderkey, 'B', 2.5 FROM base
        |  WHERE o_orderkey % 89 = 0 AND o_orderkey > 0)
        |SELECT side, o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total,
        |  min(o_orderkey) AS min_key
        |FROM u GROUP BY side, o_orderstatus
        |ORDER BY side, o_orderstatus""".stripMargin,
    "snapshot_drop_column" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus FROM orders),
        |evolved AS (
        |  SELECT * FROM base
        |  UNION ALL
        |  SELECT -o_orderkey, 'D' FROM base
        |  WHERE o_orderkey % 97 = 0 AND o_orderkey > 0)
        |SELECT o_orderstatus, count(*) AS n,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM evolved GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_widen_column" ->
      """WITH base AS (
        |  SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size
        |  FROM part),
        |evolved AS (
        |  SELECT * FROM base
        |  UNION ALL
        |  SELECT -p_partkey, p_size + 100 FROM base
        |  WHERE p_partkey % 53 = 0 AND p_partkey > 0)
        |SELECT p_partkey % 7 AS grp, count(*) AS n,
        |  CAST(sum(p_size) AS BIGINT) AS sum_size,
        |  min(p_partkey) AS min_key
        |FROM evolved WHERE p_size >= 10
        |GROUP BY p_partkey % 7
        |ORDER BY grp""".stripMargin,
    "snapshot_widen_decimal" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(CONCAT(CAST(o_orderkey % 100000 AS STRING), '.25')
        |      AS DECIMAL(12,2)) AS price
        |  FROM orders),
        |evolved AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(price AS DECIMAL(24,2)) AS price FROM base
        |  UNION ALL
        |  SELECT -o_orderkey, o_orderstatus,
        |    CAST(CAST(price AS DECIMAL(24,2)) +
        |      CAST('1000000000000.00' AS DECIMAL(24,2))
        |      AS DECIMAL(24,2))
        |  FROM base WHERE o_orderkey % 89 = 0 AND o_orderkey > 0)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(price) * 100 AS BIGINT) AS sum_price_cents,
        |  min(o_orderkey) AS min_key
        |FROM evolved WHERE price >= CAST('1000.00' AS DECIMAL(24,2))
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_partition_count" ->
      """SELECT count(*) AS n, min(o_orderstatus) AS lo,
        |  max(o_orderstatus) AS hi
        |FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    "snapshot_partition_multi" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  count(o_orderpriority) AS np,
        |  min(o_orderstatus) AS lo, max(o_orderpriority) AS hi
        |FROM orders WHERE o_orderpriority >= '2'
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "snapshot_agg_sum_multi" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  (SELECT count(DISTINCT o_orderpriority) FROM orders)
        |    AS n_prio
        |FROM orders
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "snapshot_partition_evolve" ->
      """SELECT a.o_orderstatus, a.n, a.nk, b.n_urgent
        |FROM (SELECT o_orderstatus, count(*) AS n,
        |        count(o_orderstatus) AS nk
        |      FROM orders GROUP BY o_orderstatus) a
        |JOIN (SELECT o_orderstatus, count(*) AS n_urgent
        |      FROM orders WHERE o_orderpriority = '1-URGENT'
        |      GROUP BY o_orderstatus) b
        |  ON a.o_orderstatus = b.o_orderstatus
        |ORDER BY a.o_orderstatus""".stripMargin,
    "snapshot_agg_ts" ->
      """SELECT event_type, count(*) AS n,
        |  min(ts) AS first_ts, max(ts) AS last_ts
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "snapshot_partitions_meta" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "snapshot_count_distinct" ->
      "SELECT count(DISTINCT o_orderstatus) AS k FROM orders",
    "snapshot_agg_sum" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  count(o_orderpriority) AS n_prio
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_partition_mor" ->
      """WITH live AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority
        |  FROM orders WHERE o_orderkey % 13 <> 0)
        |SELECT a.o_orderstatus, a.n, a.sum_key, a.min_key, d.n_prio
        |FROM (
        |  SELECT o_orderstatus, count(*) AS n,
        |    CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |    min(o_orderkey) AS min_key
        |  FROM live GROUP BY o_orderstatus) a
        |JOIN (
        |  SELECT o_orderstatus,
        |    count(DISTINCT o_orderpriority) AS n_prio
        |  FROM live GROUP BY o_orderstatus) d
        |USING (o_orderstatus)
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_partitioned_groupby" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  min(o_orderpriority) AS lo, max(o_orderpriority) AS hi
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "snapshot_partition_prune" ->
      """SELECT o_orderkey % 11 AS grp, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  min(o_orderkey) AS min_key
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderkey % 11
        |ORDER BY grp""".stripMargin,
    "snapshot_mv_retract" ->
      """WITH live AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice * 3
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,2))) * 100
        |    AS BIGINT) AS sum_cents,
        |  count(o_totalprice) AS cnt_o_totalprice
        |FROM live GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_mv_join" ->
      """WITH fact AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice * 2
        |  FROM orders WHERE o_orderkey % 17 = 0),
        |dim AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN 'MOVED'
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer)
        |SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,2))) * 100
        |    AS BIGINT) AS sum_cents,
        |  count(o_totalprice) AS cnt_o_totalprice,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE)
        |    / count(o_totalprice) AS avg_o_totalprice
        |FROM fact JOIN dim ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "snapshot_mv_fresh" ->
      """WITH fact AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 19 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice * 2
        |  FROM orders WHERE o_orderkey % 29 = 0),
        |dim AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'FRESH'
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer)
        |SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,2))) * 100
        |    AS BIGINT) AS sum_cents,
        |  count(o_totalprice) AS cnt_o_totalprice
        |FROM fact JOIN dim ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "events_mv_dashboard" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(20,2))) * 100 AS BIGINT)
        |    AS sum_cents,
        |  count(value) AS cnt_value,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events WHERE user_id % 97 <> 0
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "snapshot_wap" ->
      """WITH published AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice * 2
        |  FROM orders WHERE o_orderkey % 41 = 0)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,2))) * 100
        |    AS BIGINT) AS sum_price_cents,
        |  max(o_orderkey) AS max_key
        |FROM published GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_mv_minmax" ->
      """WITH live AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice * 4
        |  FROM orders WHERE o_orderkey % 11 = 0)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,2))) * 100
        |    AS BIGINT) AS sum_cents,
        |  count(o_totalprice) AS cnt_o_totalprice,
        |  min(o_totalprice) AS min_o_totalprice,
        |  max(o_totalprice) AS max_o_totalprice,
        |  min(o_orderkey) AS min_o_orderkey,
        |  max(o_orderkey) AS max_o_orderkey
        |FROM live GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "docs_text_index_sql" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS
        |    term, len(string_split(text, ' ')) AS dl FROM documents),
        |n AS (SELECT count(*) AS n_docs,
        |    sum(len(string_split(text, ' '))) AS sumdl FROM documents),
        |tf AS (SELECT doc_id, term, dl, count(*) AS tf FROM t
        |  WHERE term IN ('customer','merge')
        |  GROUP BY doc_id, term, dl),
        |fullm AS (SELECT doc_id FROM tf
        |  GROUP BY doc_id HAVING count(DISTINCT term) = 2),
        |df AS (SELECT term, count(*) AS df FROM (
        |  SELECT DISTINCT doc_id, term FROM t
        |  WHERE term IN ('customer','merge'))
        |  GROUP BY term)
        |SELECT doc_id, round(sum(
        |    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
        |      * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * ((1.0 - 0.75)
        |          + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n_docs)))
        |  ), 6) AS score
        |FROM tf JOIN df USING (term) CROSS JOIN n
        |WHERE doc_id IN (SELECT doc_id FROM fullm)
        |GROUP BY doc_id
        |ORDER BY score DESC, doc_id
        |LIMIT 20""".stripMargin,
    "snapshot_mv_sql" ->
      """WITH live AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice * 2
        |  FROM orders WHERE o_orderkey % 11 = 0)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,2))) * 100
        |    AS BIGINT) AS sum_cents,
        |  count(o_totalprice) AS cnt_o_totalprice,
        |  min(o_orderkey) AS min_o_orderkey,
        |  max(o_orderkey) AS max_o_orderkey
        |FROM live GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // avg mirrored as the SAME exact quotient: decimal sum → double,
    // divided by the non-null count (both engines convert the
    // identical exact decimal to its nearest double, then one IEEE
    // division — bit-deterministic on both sides)
    "snapshot_mv_avg_sql" ->
      """WITH live AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 5 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 20000000, o_orderstatus, o_totalprice * 3
        |  FROM orders WHERE o_orderkey % 13 = 0)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,2))) * 100
        |    AS BIGINT) AS sum_cents,
        |  count(o_totalprice) AS cnt_o_totalprice,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE)
        |    / count(o_totalprice) AS avg_o_totalprice
        |FROM live GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_mv_star" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey, l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 4 = 1),
        |fact AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey, l_extendedprice
        |  FROM li WHERE l_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT l_orderkey + 90000000, l_partkey, l_suppkey,
        |    l_extendedprice * 2
        |  FROM li WHERE l_orderkey % 23 = 0),
        |dim_p AS (
        |  SELECT p_partkey,
        |    CASE WHEN p_partkey % 17 = 0 THEN 'Brand#77'
        |         WHEN p_partkey % 10 = 0 THEN 'Brand#99'
        |         ELSE p_brand END AS p_brand
        |  FROM part),
        |dim_s AS (
        |  SELECT s_suppkey,
        |    CASE WHEN s_suppkey % 5 = 0 THEN -1
        |         ELSE s_nationkey END AS s_nationkey
        |  FROM supplier)
        |SELECT p_brand, s_nationkey, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2))) * 100
        |    AS BIGINT) AS sum_cents,
        |  count(l_extendedprice) AS cnt_l_extendedprice
        |FROM fact
        |JOIN dim_p ON l_partkey = p_partkey
        |JOIN dim_s ON l_suppkey = s_suppkey
        |GROUP BY p_brand, s_nationkey
        |ORDER BY p_brand, s_nationkey""".stripMargin,
    "snapshot_rollback" ->
      """WITH live AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice * 2
        |  FROM orders WHERE o_orderkey % 31 = 0)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,2))) * 100
        |    AS BIGINT) AS sum_price_cents,
        |  min(o_orderkey) AS min_key
        |FROM live GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_rename_column" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    o_totalprice AS price FROM orders),
        |evolved AS (
        |  SELECT * FROM base
        |  UNION ALL
        |  SELECT -o_orderkey, 'R', price * 2 FROM base
        |  WHERE o_orderkey % 101 = 0 AND o_orderkey > 0)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key
        |FROM evolved WHERE price > 1000.0
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_initial_default" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus FROM orders),
        |evolved AS (
        |  SELECT o_orderkey, o_orderstatus, CAST(7 AS BIGINT) AS prio
        |  FROM base
        |  UNION ALL
        |  SELECT -o_orderkey, 'D', o_orderkey % 5 FROM base
        |  WHERE o_orderkey % 83 = 0 AND o_orderkey > 0)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(prio) AS BIGINT) AS sum_prio,
        |  min(prio) AS min_prio, max(prio) AS max_prio,
        |  min(o_orderkey) AS min_key
        |FROM evolved GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_clone_diverge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |src AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM base
        |  UNION ALL
        |  SELECT -o_orderkey, 'N', 0.5 FROM base
        |  WHERE o_orderkey % 97 = 0 AND o_orderkey > 0),
        |br AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 3 THEN -1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM base),
        |u AS (
        |  SELECT 'src' AS side, * FROM src
        |  UNION ALL
        |  SELECT 'br' AS side, * FROM br)
        |SELECT side, o_orderstatus, count(*) AS n,
        |  CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_updated,
        |  min(o_orderkey) AS min_key
        |FROM u GROUP BY side, o_orderstatus
        |ORDER BY side, o_orderstatus""".stripMargin,
    "snapshot_sql_merge_evolve" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus FROM orders),
        |evolved AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_orderkey % 5 END
        |      AS prio
        |  FROM base
        |  UNION ALL
        |  SELECT -o_orderkey, 'N', 3 FROM base
        |  WHERE o_orderkey % 97 = 0 AND o_orderkey > 0)
        |SELECT o_orderstatus, count(*) AS n,
        |  count(prio) AS n_with_prio,
        |  CAST(sum(prio) AS BIGINT) AS sum_prio,
        |  min(o_orderkey) AS min_key
        |FROM evolved GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_changes_feed" ->
      """SELECT
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 10 = 3)
        |    AS n_changed,
        |  (SELECT CAST(sum(CAST(-1.0 * o_totalprice
        |      AS DECIMAL(18,2))) AS DOUBLE)
        |    FROM orders WHERE o_orderkey % 10 = 3) AS total_changed,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 97 = 0)
        |    AS n_del_keys,
        |  (SELECT min(o_orderkey) FROM orders WHERE o_orderkey % 97 = 0)
        |    AS min_dk,
        |  (SELECT max(o_orderkey) FROM orders WHERE o_orderkey % 97 = 0)
        |    AS max_dk""".stripMargin,
    "snapshot_schema_evolution" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  count(CASE WHEN o_orderkey % 3 = 1 THEN 1 END) AS n_with_disc,
        |  CAST(sum(CASE WHEN o_orderkey % 3 = 1
        |    THEN o_orderkey % 7 END) AS BIGINT) AS sum_disc
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_keyed_lookup" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE o_orderkey % 500 = 0
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_bloom_lookup" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  min(o_custkey) AS min_ck, max(o_custkey) AS max_ck
        |FROM orders
        |WHERE o_custkey % 97 = 0
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_bucket_lookup" ->
      """SELECT o_custkey, o_orderstatus, count(*) AS n,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE o_custkey IN (
        |  SELECT DISTINCT o_custkey FROM orders
        |  ORDER BY o_custkey LIMIT 5)
        |GROUP BY o_custkey, o_orderstatus
        |ORDER BY o_custkey, o_orderstatus""".stripMargin,
    "snapshot_zorder_band" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  min(o_custkey) AS min_ck, max(o_custkey) AS max_ck
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 250
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_zorder3_box" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  min(o_orderkey) AS min_ok, max(o_custkey) AS max_ck,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |WHERE o_orderkey BETWEEN 100 AND 1200
        |  AND o_custkey BETWEEN 10 AND 120
        |  AND o_totalprice BETWEEN 20000 AND 400000
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_connector_band" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE o_orderkey BETWEEN 200 AND 700
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "snapshot_agg_pushdown" ->
      """SELECT count(*) AS n, min(o_orderkey) AS min_k,
        |  max(o_orderkey) AS max_k
        |FROM orders""".stripMargin,
    "snapshot_connector_vectors" ->
      """SELECT label, count(*) AS n,
        |  max(CAST(len(embedding) AS BIGINT)) AS dim,
        |  min(CAST(embedding[1] AS DOUBLE)) AS min_x0,
        |  max(CAST(embedding[1] AS DOUBLE)) AS max_x0
        |FROM embeddings
        |WHERE vec_id < 2000
        |GROUP BY label
        |ORDER BY label""".stripMargin,
    "catalog_sql_ingest" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total
        |FROM orders
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)
}
