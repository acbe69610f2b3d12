package perfbench

/** Human-readable report on stdout plus a JSON copy in the work
  * directory; the contract result is the single last stdout line.
  */
object Report {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def resultLine(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, (Double, String))]): String =
    obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metrics.map { case (k, (v, u)) =>
        k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })))

  def write(run: Run, workload: String, w: Workload, setupTimes: Seq[Double],
      warmup: Double, measured: Double, e2e: Map[String, Double],
      layers: Map[String, Double]): Unit = {
    def line(s: String): Unit = println(s)
    line(s"== perfbench $workload  seed=${run.seed}  trace=${if (run.traced) 1 else 0}" +
      f"  measured=$measured%.1fs  setup reps=${setupTimes.map(t => f"$t%.2f").mkString(",")}" +
      f"  warm-up=$warmup%.2fs")
    w.facts.foreach { case (k, v) => line(f"  input  $k%-28s $v") }
    val errorRate = if (run.attempted == 0) 0.0 else run.failed.toDouble / run.attempted
    val figs = w.figures ++ Seq(
      ("error_rate", errorRate, "fraction", run.attempted.toInt),
      ("setup_s", e2e("setup_s"), "s", setupTimes.size),
      ("peak_rss_mb", Jvm.peakRssMb, "MB", 1))
    figs.foreach { case (k, v, u, n) => line(f"  figure $k%-28s $v%14.4f $u%-8s n=$n") }
    Main.EndToEnd.foreach { case (k, u) => line(f"  e2e    $k%-28s ${e2e(k)}%14.4f $u") }
    if (run.traced) {
      Main.PerLayer.foreach { k =>
        line(f"  layer  $k%-34s ${layers(k)}%16.4f ${Main.unitOf(k)}") }
      val self = run.tracer.selfMs
      run.tracer.all.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
        line(f"  span   $n%-34s n=${ss.size}%5d total=${ss.map(_.ms).sum}%10.1fms" +
          f" self=${ss.map(s => self(s.id)).sum}%10.1fms")
      }
    }
    val json = obj(Seq(
      "workload" -> str(workload), "seed" -> run.seed.toString,
      "traced" -> run.traced.toString, "measured_s" -> num(measured),
      "setup_s_reps" -> setupTimes.map(num).mkString("[", ", ", "]"),
      "warmup_s" -> num(warmup),
      "samples" -> obj(run.samples.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, ss) =>
        k -> ss.map { case (_, on, t) => s"[${on}, ${num(t)}]" }.mkString("[", ", ", "]") }),
      "facts" -> obj(w.facts.map { case (k, v) => k -> str(v) }),
      "figures" -> obj(figs.map { case (k, v, u, n) =>
        k -> obj(Seq("value" -> num(v), "unit" -> str(u), "samples" -> n.toString)) }),
      "end_to_end" -> obj(e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "per_layer" -> (if (run.traced) obj(layers.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> num(v) }) else "{}"),
      "check_failures" -> run.checkFailures.map(str).mkString("[", ", ", "]")))
    val dir = new java.io.File(run.work.getParentFile, "reports")
    dir.mkdirs()
    val f = new java.io.File(dir,
      s"$workload-seed${run.seed}-trace${if (run.traced) 1 else 0}.json")
    java.nio.file.Files.writeString(f.toPath, json + "\n")
    if (run.traced) {
      val spans = run.tracer.all.map(s => obj(Seq("id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> str(s.name),
        "request" -> str(s.request), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString)))
      java.nio.file.Files.writeString(new java.io.File(dir,
        s"$workload-seed${run.seed}-spans.jsonl").toPath,
        spans.mkString("", "\n", "\n"))
    }
  }
}
