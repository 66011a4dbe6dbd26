package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import org.apache.hadoop.fs.{Path => HPath}

/** The benchmark's own checks: `perfbench.SelfCheck <repoRoot> <workDir>`.
  *
  *  - One seed yields byte-identical batches; another seed does not.
  *  - The session settings equal the ones `graft.Bench` sets, read from
  *    its source, so the two cannot drift apart.
  *  - A traced session binds the counting file system and it counts.
  *
  * Prints one line per check and exits 1 if any fails. */
object SelfCheck {
  def main(argv: Array[String]): Unit = {
    val root = Paths.get(argv(0))
    val work = Paths.get(argv(1))
    val results = Seq(
      "generator is deterministic per seed" -> generatorDeterministic(),
      "session conf equals graft.Bench's" -> benchConfMatches(root),
      "traced session counts FS calls" -> countingFsBound(work))
    results.foreach { case (name, problem) =>
      println(problem.fold(s"ok   $name")(p => s"FAIL $name: $p"))
    }
    if (results.exists(_._2.nonEmpty)) sys.exit(1)
  }

  private def digest(seed: Long, deliveries: Int): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val g = new Gen(seed, Workloads.EventsPerBatch)
    (1 to deliveries).foreach { _ =>
      val d = g.next()
      md.update(s"${d.batchId}:${d.replay}\n".getBytes("UTF-8"))
      d.lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def generatorDeterministic(): Option[String] = {
    val a = digest(7, 40)
    if (a != digest(7, 40)) Some("seed 7 gave two different streams")
    else if (a == digest(8, 40)) Some("seeds 7 and 8 gave the same stream")
    else None
  }

  /** `.config("key", value)` pairs and the master of Bench's builder. */
  def benchConfMatches(root: Path): Option[String] = {
    val src = new String(Files.readAllBytes(
      root.resolve("src/main/scala/graft/Bench.scala")), "UTF-8")
    val pair = """\.config\(\s*"([^"]+)"\s*,\s*("([^"]*)"|(\w+))\s*\)""".r
    val bench = pair.findAllMatchIn(src).map { m =>
      m.group(1) -> Option(m.group(3)).getOrElse("$" + m.group(4))
    }.toSeq
    val ours = Main.benchConf("$cpus")
    if (!src.contains("""master(s"local[$cpus]")"""))
      Some("Bench no longer runs on local[$cpus]")
    else if (bench != ours)
      Some(s"Bench sets ${bench.mkString(", ")}; the benchmark sets " +
        ours.mkString(", "))
    else None
  }

  def countingFsBound(work: Path): Option[String] = {
    val spark = Main.session(work, trace = true)
    try {
      val fs = new HPath(work.toUri).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val before = CountingFileSystem.totalCalls()
      fs.exists(new HPath(work.toUri))
      if (!fs.isInstanceOf[CountingFileSystem])
        Some(s"file:// is served by ${fs.getClass.getName}")
      else if (CountingFileSystem.totalCalls() != before + 1)
        Some("one exists() call was not counted once")
      else None
    } finally spark.stop()
  }
}
