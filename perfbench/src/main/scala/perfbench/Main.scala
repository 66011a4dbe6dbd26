package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run:
  * `perfbench.Main --workload <ingest|dashboard> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --out <file>`.
  *
  * Prints human-readable tables on stdout and writes the result object
  * (`correct`, `attempted`, `failed`, `metrics`) to `--out`; `run.py`
  * prints that object as the last line. Exits 1 when the correctness
  * gate fails. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, out: Path, artifact: Path)

  /** Everything a workload needs. `jvmStartMs` anchors `setup_s`. */
  final case class Ctx(spark: SparkSession, tracer: Tracer, args: Args,
      jvmStartMs: Long) {
    def trace: Boolean = args.trace
    def seed: Long = args.seed
    def setupSeconds(): Double =
      (System.currentTimeMillis() - jvmStartMs) / 1e3
  }

  /** What a workload reports: the gate's counts, its metrics, and for a
    * traced run the end-to-end figures as traced and a summary table. */
  final case class Outcome(attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)],
      tracedEndToEnd: Seq[(String, Double, String)] = Nil,
      table: Seq[String] = Nil)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--work")),
      Paths.get(need("--out")), Paths.get(need("--artifact")))
  }

  /** Bench's session settings, in the order `graft.Bench` sets them;
    * `SelfCheck` holds this list equal to Bench's source. */
  def benchConf(cpus: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** Bench's core count: `SPARK_GRAFT_CPUS`, else every core up to 32. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.min(32, Runtime.getRuntime.availableProcessors).toString)

  /** Bench's session. A traced run also binds the counting file system;
    * the untraced run uses the plain one. */
  def session(work: Path, trace: Boolean): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.local.dir", work.resolve("spark-local").toString)
    benchConf(cpus).foreach { case (k, v) => b.config(k, v) }
    if (trace) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val args = parse(argv)
    Files.createDirectories(args.work)
    val spark = session(args.work, args.trace)
    val ctx = Ctx(spark, new Tracer(spark, args.trace), args, jvmStartMs)
    val outcome =
      try args.workload match {
        case "ingest" => Workloads.ingest(ctx)
        case "dashboard" => Workloads.dashboard(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    outcome.table.foreach(println)
    if (args.trace) ctx.tracer.writeArtifact(args.artifact,
      outcome.metrics.map { case (k, v, _) => k -> v },
      outcome.tracedEndToEnd.map { case (k, v, _) => k -> v })
    val metrics = outcome.metrics.map { case (k, v, u) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val correct = outcome.failed == 0
    Files.write(args.out, (s"""{"correct":$correct,""" +
      s""""attempted":${outcome.attempted},"failed":${outcome.failed},""" +
      s""""metrics":$metrics}""").getBytes("UTF-8"))
    if (!correct) sys.exit(1)
  }
}

/** Minimal JSON rendering for flat numeric objects. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
}
