package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.control.NonFatal

import graft.operators.Expectations
import graft.sources.{MaterializedView, SnapshotTable}
import graft.streaming.EventPipeline
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Main.{Ctx, Outcome}

/** The two workloads. Both are closed loops with one client: the driver
  * thread issues the next operation when the previous one returns. */
object Workloads {
  val EventsPerBatch = 2000
  val AppId = "perfbench"
  val PartitionKeys = Seq("processing_date", "processing_hour")

  /** Timed work per requested second: ingest batches, and dashboard
    * panel refreshes. The timed phase is this fixed amount of work, not a
    * deadline, so every run of a seed, traced or not, covers the same
    * range of table history however fast the engine is; on 4 cores at
    * the commit that added the benchmark it takes about `--seconds`. */
  val BatchesPerSecond = 2.0
  val RefreshesPerSecond = 0.4

  private def timedOps(seconds: Int, perSecond: Double): Int =
    math.max(1, math.round(seconds * perSecond).toInt)

  /** Untimed batches after the table is created, so the JIT has
    * settled before the clock starts. */
  val WarmupBatches = 20

  /** Untimed dashboard cycles after the history is built. */
  val WarmupCycles = 3

  /** History a dashboard run builds before it polls: batches of 12
    * hours each, so every commit adds about 13 files (~50 in all). */
  val DashboardHistory = 4
  val HistorySpanSeconds = 12 * 3600L

  // ---------------------------------------------------------------- ingest

  /** A writer that keeps a partitioned snapshot table fed, the way
    * `EventPipeline.snapshotPartitionedSink` does. */
  final class Writer(ctx: Ctx, root: String) {
    private val spark = ctx.spark
    private val tr = ctx.tracer
    val tally = new Tally

    private def frame(d: Delivery): DataFrame =
      spark.createDataset(d.lines.toSeq)(Encoders.STRING).toDF("value")

    /** Commit records (`_commits/<version>`) in the table, listed with
      * java.nio. On local paths the engine creates them, and their
      * `.claim` siblings, through java.nio, so the counting file system
      * never sees those creates. */
    private def commitRecords(): Long = {
      val dir = Paths.get(root, "_commits")
      if (!Files.isDirectory(dir)) 0L
      else Using.resource(Files.list(dir))(_.iterator.asScala
        .count(_.getFileName.toString.forall(_.isDigit)).toLong)
    }

    /** `body`, a batch's writes, as traced operation `op`, with the
      * commit records it created counted by listing before and after. */
    def op[T](name: String, op: Int)(body: => T): T =
      if (!tr.enabled) body
      else {
        val before = commitRecords()
        try tr.op(name, op)(body)
        finally tr.count(op, "commit_records", commitRecords() - before)
      }

    /** Traced runs only: `pipeline` over the delivery, written to a noop
      * sink as an operation of its own, so its jobs and time stay out of
      * the batch's, whose sink calls never run it this way. */
    def transform(d: Delivery, op: Int): Unit =
      if (tr.enabled) tr.op("streaming.transform", op)(
        EventPipeline.pipeline(frame(d))
          .write.format("noop").mode("overwrite").save())

    /** Create the table from the first delivery. */
    def create(d: Delivery): Unit = {
      SnapshotTable.commitPartitionedOn(spark, root,
        EventPipeline.pipeline(frame(d)), PartitionKeys,
        txn = Some((AppId, d.batchId)))
      tally.add(d)
    }

    /** One micro-batch: the same public calls, in the same order, as the
      * partitioned sink's `foreachBatch` body. Returns the events
      * committed (0 for a skipped re-delivery). */
    def append(d: Delivery): Long = {
      val batch = EventPipeline.pipeline(frame(d))
      val replayed = tr.span("commit.txn_check")(
        SnapshotTable.lastCommittedTxn(spark, root, AppId)
          .exists(_ >= d.batchId))
      val committed = !replayed &&
        tr.span("streaming.is_empty")(!batch.isEmpty)
      if (committed) tr.span("commit.append")(
        SnapshotTable.appendPartitioned(spark, root, batch,
          txn = Some((AppId, d.batchId))))
      tr.span("commit.stats")(SnapshotTable.statsStaleness(spark, root))
      if (committed) {
        val before = tally.events
        tally.add(d)
        tally.events - before
      } else {
        if (replayed) tally.replaysSkipped += 1
        0L
      }
    }
  }

  /** Checks the table against the tally; returns the failures. */
  private def checkTable(spark: SparkSession, root: String, w: Writer,
      replays: Int): Seq[String] = {
    val t = w.tally
    val df = SnapshotTable.read(spark, root)
    val byType = df.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq(
      check(df.count() == t.events, s"row count != ${t.events}"),
      check(byType == t.byType.toMap, "per-type counts differ from tally"),
      check(t.replaysSkipped == replays,
        s"skipped ${t.replaysSkipped} re-deliveries of $replays"),
      check(SnapshotTable.lastCommittedTxn(spark, root, AppId)
        .contains(t.lastBatch), s"last txn is not ${t.lastBatch}")
    ).flatten
  }

  private def check(ok: Boolean, msg: String): Option[String] =
    if (ok) None else Some(msg)

  def ingest(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val root = ctx.args.work.resolve("ingest").toString
    val gen = new Gen(ctx.seed, EventsPerBatch)
    val w = new Writer(ctx, root)
    w.create(gen.next())
    var replays = 0
    def deliver(): Delivery = {
      val d = gen.next()
      if (d.replay) replays += 1
      d
    }
    (1 to WarmupBatches).foreach(_ => w.append(deliver()))
    Jvm.sync()
    val setup = ctx.setupSeconds()
    val gc0 = Jvm.gcSeconds()

    val times = mutable.ArrayBuffer.empty[Double]
    var events = 0L
    var failed = 0
    (0 until timedOps(ctx.args.seconds, BatchesPerSecond)).foreach { i =>
      val d = deliver()
      w.transform(d, 2 * i)
      val t0 = System.nanoTime()
      try events += w.op("ingest.batch", 2 * i + 1)(w.append(d))
      catch { case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] batch ${d.batchId} failed: $e")
      }
      times += (System.nanoTime() - t0) / 1e9
    }
    val gcSeconds = Jvm.gcSeconds() - gc0
    tr.drain()
    val broadcasts = tr.listener.liveBroadcasts
    val heap = Jvm.heapAfterGcMb()
    val problems = checkTable(spark, root, w, replays)
    problems.foreach(p => System.err.println(s"[perfbench] ingest: $p"))
    val attempted = times.size + 1
    val bad = failed + (if (problems.nonEmpty) 1 else 0)

    val e2e = endToEnd(setup, times, events / times.sum, heap)
    val summary = times.grouped(10).zipWithIndex.map { case (ts, i) =>
      f"batches ${i * 10 + 1}%3d-${i * 10 + ts.size}%3d " +
        f"p50 ${Stats.quantile(ts, 0.5)}%.4f s" }.toSeq
    if (!ctx.trace) Outcome(attempted, bad, e2e, table = summary)
    else {
      val layers = Layers(tr, "ingest.batch")
      Outcome(attempted, bad,
        layers.ingest(spark, root, broadcasts, gcSeconds) ++
          layers.noReads,
        e2e, layers.table(Seq("ingest.batch" -> times)))
    }
  }

  // ------------------------------------------------------------- dashboard

  /** The panel's tiles, in refresh order. Each reads the table through
    * the `graft-snapshot` connector, except `by_type_mv`, which serves
    * the by-type tile from an incrementally maintained view. `quality`
    * counts rows failing the panel's expectations (no org, no payload
    * action) with the `graft.operators.Expectations` operator. */
  val Tiles: Seq[String] = Seq("totals", "by_type", "by_category", "hourly",
    "top_repos", "recent_page", "repo_filter", "quality", "by_type_mv")

  final case class Panel(hoursBack: Int, page: Int, repo: Int)

  def dashboard(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val root = ctx.args.work.resolve("dashboard").toString
    val view = MaterializedView.IncrementalView(root,
      ctx.args.work.resolve("dashboard_by_type").toString,
      keys = Seq("event_type"), sumCols = Nil)
    val gen = new Gen(ctx.seed, EventsPerBatch)
    val rng = new java.util.SplittableRandom(ctx.seed ^ 0x5DEECE66DL)
    val panel = Panel(1 + rng.nextInt(24), rng.nextInt(3),
      1 + rng.nextInt(20))
    val w = new Writer(ctx, root)

    val times = mutable.ArrayBuffer.empty[Double]
    val byTile = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val writes = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    var attempted = 0
    var op = 0
    // One cycle: a writer batch and the view's refresh, then every tile;
    // each tile must see the batch. Returns the cycle's tile times.
    def cycle(): Seq[Double] = {
      attempted += 1
      val d = gen.next()
      w.transform(d, op)
      op += 1
      val w0 = System.nanoTime()
      try w.op("dashboard.ingest", op) {
        w.append(d)
        tr.span("mv.refresh")(MaterializedView.refreshIncremental(spark, view))
      } catch { case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] dashboard write failed: $e")
      }
      writes += (System.nanoTime() - w0) / 1e9
      op += 1
      Tiles.map { name =>
        attempted += 1
        val t0 = System.nanoTime()
        val rows =
          try Some(tr.op(s"query.$name", op) {
            val df = tr.span("scan.load")(
              tile(spark, root, view, panel, w.tally, name))
            if (tr.enabled) tr.span("plans.plan")(df.queryExecution.executedPlan)
            tr.span("query.execute")(df.collect())
          })
          catch { case NonFatal(e) =>
            System.err.println(s"[perfbench] tile $name failed: $e")
            None
          }
        val t = (System.nanoTime() - t0) / 1e9
        op += 1
        rows.fold(Option("failed"))(verify(name, _, panel, w.tally))
          .foreach { p =>
            failed += 1
            System.err.println(s"[perfbench] tile $name: $p")
          }
        byTile.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += t
        t
      }
    }

    // The history the cycles poll, then untimed cycles so the JIT has
    // settled before the clock starts.
    w.create(gen.next())
    (1 until DashboardHistory).foreach(_ =>
      w.append(gen.next(HistorySpanSeconds)))
    MaterializedView.refreshIncremental(spark, view)
    (1 to WarmupCycles).foreach(_ => cycle())
    Jvm.sync()
    times.clear(); byTile.clear(); writes.clear()
    tr.reset()
    val setup = ctx.setupSeconds()
    val gc0 = Jvm.gcSeconds()

    val cycleMeans = mutable.ArrayBuffer.empty[Double]
    (1 to timedOps(ctx.args.seconds, RefreshesPerSecond)).foreach { _ =>
      val ts = cycle()
      times ++= ts
      cycleMeans += ts.sum / ts.size
    }
    val gcSeconds = Jvm.gcSeconds() - gc0
    tr.drain()
    val broadcasts = tr.listener.liveBroadcasts
    val heap = Jvm.heapAfterGcMb()

    val e2e = endToEnd(setup, times, times.size / times.sum, heap)
    val summary = Tiles.map(t => f"tile $t%-12s n=${byTile(t).size}%3d " +
        f"p50=${Stats.quantile(byTile(t), 0.5)}%.4f s") ++
      cycleMeans.zipWithIndex.map { case (m, i) =>
        f"cycle ${i + 1}%2d mean tile time $m%.4f s" }
    if (!ctx.trace) Outcome(attempted, failed, e2e, table = summary)
    else {
      val layers = Layers(tr, "dashboard.ingest")
      Outcome(attempted, failed,
        layers.ingest(spark, root, broadcasts, gcSeconds) ++
          layers.dashboard(byTile.toMap),
        e2e, layers.table(Seq("tile query" -> times,
          "writer batch" -> writes)))
    }
  }

  /** The end-to-end metrics, in BENCHMARK.json order. */
  private def endToEnd(setup: Double, times: Iterable[Double],
      throughput: Double, heap: Double): Seq[(String, Double, String)] =
    Seq(("setup_s", setup, "s"),
      ("op_p50_s", Stats.quantile(times, 0.5), "s"),
      ("op_p75_s", Stats.quantile(times, 0.75), "s"),
      ("throughput_per_s", throughput, "1/s"),
      ("heap_mb", heap, "MB"))

  private def load(spark: SparkSession, root: String): DataFrame =
    spark.read.format("graft-snapshot").option("path", root).load()

  /** The hour from which the hourly tile counts: `hoursBack` whole hours
    * up to and including the newest event's hour. */
  private def hourlyFrom(p: Panel, t: Tally): Long =
    t.maxEpochSecond / 3600 * 3600 - (p.hoursBack - 1) * 3600L

  /** One tile's query, as the reference api-service panel asks it. */
  def tile(spark: SparkSession, root: String,
      view: MaterializedView.IncrementalView, p: Panel, t: Tally,
      name: String): DataFrame = name match {
    case "totals" =>
      load(spark, root).agg(count(lit(1)).as("n"),
        countDistinct(col("actor_id")).as("actors"),
        countDistinct(col("repo_id")).as("repos"))
    case "by_type" =>
      load(spark, root).groupBy("event_type").agg(count(lit(1)).as("n"))
        .withColumn("pct",
          lit(100.0) * col("n") / sum(col("n")).over(Window.partitionBy()))
        .orderBy(desc("n"), asc("event_type"))
    case "by_category" =>
      load(spark, root).groupBy("event_category")
        .agg(count(lit(1)).as("n")).orderBy(desc("n"), asc("event_category"))
    case "hourly" =>
      load(spark, root)
        .filter(col("created_at") >=
          lit(new java.sql.Timestamp(hourlyFrom(p, t) * 1000L)))
        .groupBy(date_trunc("hour", col("created_at")).as("hour"))
        .agg(count(lit(1)).as("n")).orderBy("hour")
    case "top_repos" =>
      load(spark, root).groupBy("repo_id", "repo_name")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("actor_id")).as("actors"))
        .orderBy(desc("n"), asc("repo_id")).limit(10)
    case "recent_page" =>
      load(spark, root)
        .select("event_id", "event_type", "actor_login", "repo_name",
          "created_at")
        .orderBy(desc("created_at"), desc("event_id"))
        .offset(p.page * 100).limit(100)
    case "repo_filter" =>
      load(spark, root).filter(col("repo_id") === p.repo)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("event_type"))
    case "quality" =>
      Expectations.flag(load(spark, root), Seq(
          "has_org" -> col("has_org"),
          "has_action" -> col("action").isNotNull))
        .select(explode_outer(col("violations")).as("violation"))
        .groupBy("violation").agg(count(lit(1)).as("n"))
        .orderBy("violation")
    case "by_type_mv" =>
      MaterializedView.readFresh(spark, view).select("event_type", "n")
  }

  /** The tile's answer checked against the tally as of the last
    * commit; None when it holds. */
  def verify(name: String, rows: Array[Row], p: Panel,
      t: Tally): Option[String] = {
    def counts(rs: Array[Row]) =
      rs.map(r => r.getString(0) -> r.getLong(1)).toMap
    name match {
      case "totals" =>
        val r = rows.head
        check(r.getLong(0) == t.events && r.getLong(1) == t.actors.size &&
          r.getLong(2) == t.byRepo.size,
          s"totals ${r.mkString(",")} != ${t.events},${t.actors.size}," +
            s"${t.byRepo.size}")
      case "by_type" | "by_type_mv" =>
        check(counts(rows) == t.byType.toMap, "per-type counts differ")
      case "by_category" =>
        check(rows.map(_.getLong(1)).sum == t.events,
          "category counts do not add up to the total")
      case "hourly" =>
        val from = hourlyFrom(p, t)
        val want = t.byHour.filter(_._1 >= from).toSeq.sortBy(_._1)
        val got = rows.map(r =>
          r.getTimestamp(0).getTime / 1000 -> r.getLong(1)).toSeq
        check(got == want, "hourly buckets differ")
      case "top_repos" =>
        val want = t.byRepo.toSeq.sortBy { case (r, n) => (-n, r) }.take(10)
        check(rows.map(r => r.getInt(0) -> r.getLong(2)).toSeq == want,
          "top repos differ")
      case "recent_page" =>
        val keys = rows.map(r => (r.getTimestamp(4).getTime, r.getString(0)))
        val ordered = keys.sliding(2).forall {
          case Array(a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 >= b._2)
          case _ => true
        }
        check(rows.length == 100 && ordered,
          s"page has ${rows.length} rows, ordered=$ordered")
      case "repo_filter" =>
        check(rows.map(_.getLong(1)).sum == t.byRepo(p.repo),
          s"repo ${p.repo} count differs")
      case "quality" =>
        // explode_outer turns a clean row's empty list into one NULL
        val got = rows.map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
        check(got == Map(None -> t.clean, Some("has_action") -> t.withoutAction,
          Some("has_org") -> t.withoutOrg).filter(_._2 > 0),
          s"quality counts ${got.mkString(",")} differ")
    }
  }
}

object Stats {

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}
