package perfbench

/** Per-layer metrics of a traced run, from the spans the benchmark put
  * around its calls into each layer. Every layer's metrics are always
  * emitted; a layer the workload does not call reads 0. */
object Layers {
  private val MB = 1e6

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def ratio(a: Double, b: Double): Double = if (b <= 0) 0.0 else a / b

  def metrics(c: Ctx, spans: Seq[Span], sessionS: Double): Seq[(String, Double, String)] = {
    def named(n: String) = spans.filter(_.name == n)
    def busy(ss: Seq[Span]) =
      ratio(ss.map(_.total.taskS).sum, ss.map(_.ms).sum / 1000.0 * c.cores)

    val rel = named("operators.relational")
    val plan = named("operators.relational.plan")
    val exec = named("operators.relational.exec")
    val relational = Seq(
      ("plan_ms", med(plan.map(_.ms)), "ms"),
      ("exec_ms", med(exec.map(_.ms)), "ms"),
      ("jobs_per_query", mean(rel.map(_.total.jobs.toDouble)), "count"),
      ("tasks_per_query", mean(rel.map(_.total.tasks.toDouble)), "count"),
      ("busy_frac", busy(exec), "ratio"),
      ("input_mb", mean(rel.map(_.total.inputBytes / MB)), "MB"),
      ("shuffle_mb", mean(rel.map(s => (s.total.shuffleReadBytes + s.total.shuffleWriteBytes) / MB)), "MB"))

    val passes = c.report.get("passes").collect { case n: Int => n.toDouble }.getOrElse(0.0)
    def perPass(layer: String) = {
      val ss = named(layer)
      def sum(f: Counters => Double) = ratio(ss.map(s => f(s.total)).sum, passes)
      Seq(("wall_s", ratio(ss.map(_.ms).sum / 1000.0, passes), "s"),
        ("task_s", sum(_.taskS), "s"),
        ("busy_frac", busy(ss), "ratio"),
        ("jobs", sum(_.jobs.toDouble), "count"),
        ("shuffle_mb", sum(x => (x.shuffleReadBytes + x.shuffleWriteBytes) / MB), "MB"),
        ("spill_mb", sum(_.spillBytes / MB), "MB"),
        ("gc_s", sum(_.gcMs / 1000.0), "s"),
        ("output_mb", sum(_.outputBytes / MB), "MB"))
    }

    val ing = named("sources.ingest")
    val windows = c.report.get("ingest_windows").collect { case xs: Seq[_] =>
      xs.collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] } }.getOrElse(Nil)
    def wsum(k: String) = windows.map(_(k) match { case n: Long => n.toDouble; case _ => 0.0 }).sum
    val ingest = Seq(
      ("wall_ms", med(ing.map(_.ms)), "ms"),
      ("jobs", mean(ing.map(_.total.jobs.toDouble)), "count"),
      ("task_s", mean(ing.map(_.total.taskS)), "s"),
      ("busy_frac", busy(ing), "ratio"),
      ("write_amp", ratio(ing.map(_.total.outputBytes.toDouble).sum, wsum("text_bytes")), "ratio"),
      ("admitted_frac", ratio(wsum("admitted"), wsum("offered")), "ratio"),
      ("compacted", windows.count(_("compacted") == true).toDouble, "count"))

    val byDeltas = c.report.get("text_search_ms_by_deltas").collect { case xs: Seq[_] =>
      xs.map { case ys: Seq[_] => ys.collect { case d: Double => d }; case _ => Nil } }
      .getOrElse(Nil)
    val ts = named("sources.textindex")
    val nByDelta = byDeltas.map(_.size)
    // set-up leaves SetupDeltas live deltas; the first window compacts to 0
    val textindex = Seq(0, RetrievalRw.SetupDeltas).map(d =>
      (s"search_ms.d$d", med(byDeltas.lift(d).getOrElse(Nil)), "ms")) ++ Seq(
      ("search_jobs", mean(ts.map(_.total.jobs.toDouble)), "count"),
      ("search_input_mb", mean(ts.map(_.total.inputBytes / MB)), "MB"),
      ("deltas", ratio(nByDelta.zipWithIndex.map { case (n, d) => n * d }.sum.toDouble, nByDelta.sum), "count"),
      ("bytes", c.report.get("text_index_bytes").collect { case n: Long => n.toDouble }.getOrElse(0.0), "B"))

    val vec = named("operators.vector")
    val vector = Seq(
      ("search_ms", med(vec.map(_.ms)), "ms"),
      ("jobs", mean(vec.map(_.total.jobs.toDouble)), "count"),
      ("input_mb", mean(vec.map(_.total.inputBytes / MB)), "MB"))

    val setup = Seq(
      ("session_s", sessionS, "s"),
      ("inputs_s", med(named("setup.inputs").map(_.ms / 1000.0)), "s"),
      ("index_build_s", med(named("setup.index_build").map(_.ms / 1000.0)), "s"))

    def under(layer: String, ms: Seq[(String, Double, String)]) =
      ms.map { case (n, v, u) => (s"$layer.$n", v, u) }
    under("operators.relational", relational) ++ under("operators.dedup", perPass("operators.dedup")) ++
      under("sources.curation", perPass("sources.curation")) ++ under("sources.ingest", ingest) ++
      under("sources.textindex", textindex) ++ under("operators.vector", vector) ++
      under("setup", setup)
  }
}
