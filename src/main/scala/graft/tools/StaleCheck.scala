package graft.tools

/** Gate-artifact staleness check: every locally-produced gate artifact
  * stamps the commit it was generated at (core.Provenance); this tool
  * fails loudly when any artifact's commit differs from HEAD by a diff
  * that touches `src/main` or `build.sbt` — i.e. when the artifact no
  * longer attests the code it sits next to.
  *
  * Why: round-10 adjudication had to reason manually that the sweep
  * artifacts "stamped at 33ea890 cannot have changed" — exactly the
  * provenance argument a machine should make. An artifact whose commit
  * precedes HEAD is fine as long as the intervening commits touched
  * only docs/artifacts (the normal refresh-then-commit flow); it is
  * STALE the moment a source change lands without a re-run.
  *
  * Pure git metadata — no Spark session, runs in seconds. Exits 1 and
  * writes per-artifact verdicts to STALECHECK.json.
  *
  *   sbt "runMain graft.tools.StaleCheck [outJson]"
  */
object StaleCheck {
  /** Locally-producible gate artifacts (driver-made BENCH_r/CORRECTNESS_r
    * are excluded: they attest the driver's run, not this tree). */
  private val fixed = Seq(
    "EDGE_EXEC.json", "EDGE_EXEC_1ROW.json", "NULL_EXEC.json",
    "NAN_EXEC.json", "TEXT_EXEC.json", "NUM_EXEC.json", "COMBO_EXEC.json",
    "SKEW_EXEC.json", "SHAPE_EXEC.json", "HUGE_EXEC.json",
    "PART_INVARIANCE.json", "CODEGEN_PARITY.json", "scaling.json",
    "scaling30.json", "scaling_pair.json", "STATE_SIZE.json",
    "bench_full.json", "CONC_EXEC.json", "MEM_EXEC.json", "FULLEXEC.json")

  private def sh(cmd: String*): (Int, String) = {
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    p.waitFor()
    (p.exitValue(), out.trim)
  }

  private def commitOf(path: java.nio.file.Path): Option[String] = {
    val text = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    """"commit":"([0-9a-f]{6,40})"""".r.findFirstMatchIn(text).map(_.group(1))
  }

  /** None = fresh; Some(reason) = stale. */
  private def staleness(name: String): Option[String] = {
    val p = java.nio.file.Paths.get(name)
    if (!java.nio.file.Files.isRegularFile(p)) return Some("artifact missing")
    commitOf(p) match {
      case None => Some("no commit field")
      case Some(c) =>
        if (sh("git", "cat-file", "-e", s"$c^{commit}")._1 != 0)
          Some(s"unknown commit $c")
        else {
          val (rc, diff) = sh("git", "diff", "--name-only", c, "HEAD",
            "--", "src/main", "build.sbt")
          if (rc != 0) Some(s"git diff failed for $c")
          else if (diff.nonEmpty)
            Some(s"src changed since $c: " +
              diff.linesIterator.take(5).mkString(","))
          else None
        }
    }
  }

  def main(args: Array[String]): Unit = {
    val outJson = if (args.length > 0) args(0) else "STALECHECK.json"
    // uncommitted src changes make EVERY artifact unattestable
    val dirty = sh("git", "status", "--porcelain", "--",
      "src/main", "build.sbt")._2
    val results = fixed.map { a =>
      a -> (if (dirty.nonEmpty)
              Some("working tree has uncommitted src/main changes")
            else staleness(a))
    }
    val nStale = results.count(_._2.isDefined)
    def esc(s: String) = SweepJson.esc(s)
    val entries = results.map { case (a, st) =>
      s""""${esc(a)}":"${esc(st.getOrElse("fresh"))}""""
    }.mkString("{", ",", "}")
    val json =
      s"""{"action":"gate-staleness-check","n_artifacts":${results.size},"n_stale":$nStale,"artifacts":$entries,${graft.core.Provenance.jsonFields}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outJson), json.getBytes("UTF-8"))
    results.foreach { case (a, st) =>
      println(s"[stalecheck] $a: ${st.getOrElse("fresh")}")
    }
    println(s"[stalecheck] ${results.size - nStale}/${results.size} fresh -> $outJson")
    if (nStale > 0) sys.exit(1)
  }
}
