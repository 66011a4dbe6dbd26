package perfbench

import scala.collection.mutable

import graft.sources.SnapshotTable
import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run, from its spans, the runtime
  * listener and the FS counters. Writer metrics come from the operations
  * named `writeOp` (every ingest batch, or the batch a dashboard cycle
  * appends); reader metrics from the dashboard's tile queries. */
final case class Layers(tr: Tracer, writeOp: String) {
  private val roots = tr.spans.filter(_.parent == -1)
  private val writes = roots.filter(_.name == writeOp)
  private val reads = roots.filter(_.name.startsWith("query."))
  private def named(n: String) = tr.spans.filter(_.name == n).map(_.seconds)
  private def p50(n: String) = Stats.quantile(named(n), 0.5)
  private def mean(xs: Iterable[Double]) =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def fs(ops: Iterable[Span], k: String) =
    ops.map(s => tr.countsByOp.get(s.op).flatMap(_.get(k)).getOrElse(0L)
      .toDouble)
  private def fsTotal(s: Span) =
    CountingFileSystem.calls.map(c => fs(Seq(s), c.name).sum).sum

  /** Writer-side metrics (also measured on dashboard runs). */
  def ingest(spark: SparkSession, root: String, liveBroadcasts: Int,
      gcSeconds: Double): Seq[(String, Double, String)] = {
    val appendOps = tr.spans.filter(_.name == "commit.append").map(_.op).toSet
    val commits = writes.filter(s => appendOps(s.op))
    // the table's shape as the manifest records it, per commit
    val versions = SnapshotTable.versions(spark, root)
    val files = SnapshotTable.manifest(spark, root, versions.last)
      .filter(_.kind == "d")
    Seq(
      ("streaming.transform_s", p50("streaming.transform"), "s"),
      ("streaming.is_empty_s", p50("streaming.is_empty"), "s"),
      ("commit.txn_check_s", p50("commit.txn_check"), "s"),
      ("commit.call_p50_s", p50("commit.append"), "s"),
      ("commit.call_p90_s",
        Stats.quantile(named("commit.append"), 0.9), "s"),
      ("commit.stats_s", p50("commit.stats"), "s"),
      ("mv.refresh_s", if (named("mv.refresh").isEmpty) 0.0
        else p50("mv.refresh"), "s"),
      ("writer.spark.jobs_per_batch",
        mean(writes.map(s => tr.runtime(s.op).jobs.toDouble)), "count"),
      ("writer.spark.tasks_per_batch",
        mean(writes.map(s => tr.runtime(s.op).tasks.toDouble)), "count"),
      ("writer.spark.busy_s_per_batch",
        mean(writes.map(tr.busySeconds)), "s"),
      ("writer.driver_s_per_batch",
        mean(writes.map(s => s.seconds - tr.busySeconds(s))), "s")) ++
      CountingFileSystem.calls.map(c =>
        (s"writer.fs.${c.name}_per_commit", mean(fs(commits, c.name)),
          "count")) ++
      Seq(
        ("writer.fs.ops_first10", mean(commits.take(10).map(fsTotal)),
          "count"),
        ("writer.fs.ops_last10", mean(commits.takeRight(10).map(fsTotal)),
          "count"),
        ("writer.commit_records_per_commit",
          mean(fs(commits, "commit_records")), "count"),
        ("writer.files_per_commit", files.size.toDouble / versions.size,
          "count"),
        ("writer.bytes_per_commit",
          files.flatMap(_.bytes).sum.toDouble / versions.size, "B"),
        ("writer.replays_skipped",
          (writes.size - commits.size).toDouble, "count"),
        ("jvm.live_broadcasts", liveBroadcasts.toDouble, "count"),
        ("jvm.gc_s", gcSeconds, "s"))
  }

  /** Reader-side metrics of the dashboard's tile queries. */
  def dashboard(byTile: Map[String, Iterable[Double]])
  : Seq[(String, Double, String)] =
    Workloads.Tiles.map(t =>
      (s"query.${t}_p50_s",
        byTile.get(t).fold(0.0)(Stats.quantile(_, 0.5)), "s")) ++
    Seq(
      ("scan.load_s", p50("scan.load"), "s"),
      ("plans.plan_s", p50("plans.plan"), "s"),
      ("reader.spark.jobs_per_query",
        mean(reads.map(s => tr.runtime(s.op).jobs.toDouble)), "count"),
      ("reader.spark.tasks_per_query",
        mean(reads.map(s => tr.runtime(s.op).tasks.toDouble)), "count"),
      ("reader.spark.busy_s_per_query",
        mean(reads.map(tr.busySeconds)), "s"),
      ("reader.spark.input_bytes_per_query",
        mean(reads.map(s => tr.runtime(s.op).inputBytes.toDouble)), "B"),
      ("reader.driver_s_per_query",
        mean(reads.map(s => s.seconds - tr.busySeconds(s))), "s")) ++
    Seq("list", "status", "exists", "open", "manifest_opens", "data_opens")
      .map(k => (s"reader.fs.${k}_per_query", mean(fs(reads, k)), "count"))

  /** Every reader metric as 0, for a run that issues no queries. */
  def noReads: Seq[(String, Double, String)] =
    dashboard(Map.empty).map { case (n, _, u) => (n, 0.0, u) }

  /** The per-layer self-time table and the op-time summary. */
  def table(ops: Seq[(String, Iterable[Double])])
  : Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    out += f"${"span"}%-24s ${"n"}%6s ${"total_s"}%10s ${"self_s"}%10s"
    tr.selfTimes().foreach { case (name, n, total, self) =>
      out += f"$name%-24s $n%6d $total%10.3f $self%10.3f"
    }
    ops.foreach { case (name, xs) =>
      out += f"traced $name: n=${xs.size}%d " +
        f"p50=${Stats.quantile(xs, 0.5)}%.4f s p90=${Stats.quantile(xs, 0.9)}%.4f s"
    }
    out.toSeq
  }
}
