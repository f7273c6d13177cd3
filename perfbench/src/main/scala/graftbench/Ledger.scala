package graftbench

/** The traced run's per-layer numbers, and the span file it leaves behind. */
object Ledger {
  private val opFields: Seq[(String, String, (OpStats, Int) => Double)] = Seq(
    ("wall_s", "s", (s, _) => s.wallS),
    ("plan_ms", "ms", (s, _) => s.planMs),
    ("codegen_ms", "ms", (s, _) => s.codegenMs),
    ("codegen_classes", "count", (s, _) => s.codegenClasses.toDouble),
    ("tasks", "count", (s, _) => s.tasks.toDouble),
    ("max_task_s", "s", (s, _) => s.maxTaskS),
    ("task_s", "s", (s, _) => s.taskS),
    ("cpu_s", "s", (s, _) => s.cpuS),
    ("gc_s", "s", (s, _) => s.gcS),
    ("occupancy", "ratio", (s, cores) => s.taskS / math.max(s.wallS * cores, 1e-9)),
    ("shuffle_write_mb", "MB", (s, _) => s.shuffleWriteMb),
    ("spill_mb", "MB", (s, _) => s.spillMb),
    ("input_mb", "MB", (s, _) => s.inputMb),
    ("output_mb", "MB", (s, _) => s.outputMb),
    ("scan_rows_per_result", "ratio", (s, _) => s.scanRows.toDouble / math.max(s.resultRows, 1L)))
  private val coldFields = Seq("wall_s", "plan_ms", "codegen_ms", "codegen_classes")
  private val layers = Seq("pass", "op", "job", "stage")

  /** `op<i>.<field>`: median over the traced warm passes; `op<i>.cold_<field>`
    * for the wall time, plan and codegen counters of the cold pass. */
  def opMetrics(nOps: Int, cold: Pass, traced: Seq[Pass], cores: Int): Seq[(String, Double, String)] =
    (0 until nOps).flatMap { i =>
      def at(p: Pass): Option[OpStats] = p.calls(i).stats
      val warm = opFields.map { case (f, unit, get) =>
        val xs = traced.flatMap(at).map(get(_, cores))
        (s"op${i + 1}.$f", if (xs.isEmpty) Double.NaN else Stats.median(xs), unit)
      }
      val coldOnes = opFields.filter(f => coldFields.contains(f._1)).map { case (f, unit, get) =>
        (s"op${i + 1}.cold_$f", at(cold).map(get(_, cores)).getOrElse(Double.NaN), unit)
      }
      warm ++ coldOnes
    }

  /** `self.<layer>_s`: per traced warm pass, the summed self time of the
    * layer's spans inside that pass; median over the passes. */
  def selfTimes(spans: Seq[Span], traced: Seq[Pass]): Seq[(String, Double, String)] = {
    val children = spans.groupBy(_.parent)
    def subtree(id: Long): Seq[Span] = children.getOrElse(id, Nil).flatMap(c => c +: subtree(c.id))
    val byId = spans.map(s => s.id -> s).toMap
    val perPass = traced.map(p => Trace.selfByLayer(byId.get(p.spanId).toSeq ++ subtree(p.spanId)))
    layers.map { l =>
      val xs = perPass.map(_.getOrElse(l, 0.0))
      (s"self.${l}_s", if (xs.isEmpty) Double.NaN else Stats.median(xs), "s")
    }
  }

  def write(file: java.io.File, spans: Seq[Span]): Unit = {
    file.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(file, "UTF-8")
    try out.print(spans.sortBy(_.startUs).map(Trace.toJson).mkString("[\n", ",\n", "\n]\n"))
    finally out.close()
  }
}
