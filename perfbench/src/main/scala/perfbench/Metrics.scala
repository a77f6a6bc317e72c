package perfbench

/** Turns iteration samples into the reported metrics. The names and
  * units here are the ones `BENCHMARK.json` declares.
  */
object Metrics {

  val EndToEnd: Seq[(String, String)] = Seq(
    "job_s" -> "s", "task_s" -> "s", "heap_retained_mb" -> "MB", "setup_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "meta.load_s" -> "s", "meta.commit_s" -> "s",
    "scan.s" -> "s", "scan.rows" -> "count", "scan.bytes" -> "bytes",
    "scan.rows_per_s" -> "rows/s", "scan.tasks" -> "count",
    "scan.task_skew" -> "ratio", "scan.core_util" -> "ratio",
    "scan.input_s" -> "s", "scan.input_core_util" -> "ratio",
    "decode.rows_per_s" -> "rows/s", "decode.skip_rows_per_s" -> "rows/s",
    "encode.rows_per_s" -> "rows/s",
    "project.value_s" -> "s", "project.list_s" -> "s", "project.map_s" -> "s",
    "write.s" -> "s", "write.shuffle_write_bytes" -> "bytes", "write.spill_bytes" -> "bytes",
    "write.encode_task_s" -> "s", "write.bytes_out" -> "bytes", "write.files" -> "count",
    "bytes_out_per_row" -> "bytes",
    "dedup.s" -> "s", "dedup.pairs" -> "count", "dedup.shuffle_bytes" -> "bytes",
    "cc.s" -> "s", "cc.jobs" -> "count", "cc.job_s_max" -> "s", "cc.components" -> "count",
    "keep.s" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_read_bytes" -> "bytes",
    "spark.peak_exec_mem_mb" -> "MB",
    "trace.job_s" -> "s", "trace.overhead_frac" -> "ratio", "trace.span_cover_frac" -> "ratio")

  private def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def endToEnd(ok: Seq[IterRun], setupS: Double): Seq[(String, String, Double)] = {
    val v = Map(
      "job_s" -> medianOr0(ok.map(_.jobS)),
      "task_s" -> medianOr0(ok.map(_.taskS)),
      "heap_retained_mb" -> (0.0 +: ok.map(_.heapMb)).max,
      "setup_s" -> setupS)
    EndToEnd.map { case (n, u) => (n, u, v(n)) }
  }

  private def combine(parts: Iterable[SpanSpark]): SpanSpark = {
    val all = new SpanSpark
    parts.foreach(all.add)
    all
  }

  /** Scan metrics of one scan span: the leaf stages (no shuffle input)
    * are the scan's own tasks.
    */
  private def scan(s: Span, sp: SpanSpark, rows: Double, bytes: Double, cores: Int): Map[String, Double] = {
    val dur = s.durNs / 1e9
    val leaf = sp.stages.values.filter(_.shuffleReadBytes == 0).toSeq
    val runs = leaf.flatMap(_.taskRunMs).map(_.toDouble)
    Map("scan.s" -> dur, "scan.rows" -> rows, "scan.bytes" -> bytes,
      "scan.rows_per_s" -> rows / dur,
      "scan.tasks" -> leaf.map(_.tasks).sum.toDouble,
      "scan.task_skew" -> (if (runs.isEmpty) 0.0 else runs.max / math.max(Stats.median(runs), 1.0)),
      "scan.core_util" -> sp.runMs / 1000.0 / (dur * cores))
  }

  /** Layer metrics of one traced iteration. */
  private def layers(it: IterRun, cores: Int): Map[String, Double] = {
    val byName = it.spans.groupBy(_.name)
    def one(name: String): Option[(Span, SpanSpark)] =
      byName.get(name).map(ss => (ss.head, combine(ss.map(s => it.spark(s.id)))))
    def durS(name: String): Option[Double] = byName.get(name).map(_.map(_.durNs).sum / 1e9)
    val c = it.counts
    val m = Map.newBuilder[String, Double]
    byName.get("meta.load").foreach(ss => m += "meta.load_s" -> Stats.median(ss.map(_.durNs / 1e9)))
    one("scan").foreach { case (s, sp) =>
      m ++= scan(s, sp, c.getOrElse("scan.rows", 0.0), c.getOrElse("scan.bytes", 0.0), cores)
    }
    one("write").foreach { case (s, sp) =>
      val bytesOut = c.getOrElse("write.bytes_out", 0.0)
      m ++= Map(
        "write.s" -> s.durNs / 1e9,
        "write.shuffle_write_bytes" -> sp.shuffleWriteBytes.toDouble,
        "write.spill_bytes" -> sp.spillDiskBytes.toDouble,
        // the sort + encode stage reads the shuffle and writes none
        "write.encode_task_s" -> sp.stages.values
          .filter(st => st.shuffleReadBytes > 0 && st.shuffleWriteBytes == 0).map(_.runMs).sum / 1000.0,
        "write.bytes_out" -> bytesOut,
        "write.files" -> c.getOrElse("write.files", 0.0),
        "bytes_out_per_row" -> bytesOut / c.getOrElse("rows_written", 1.0))
    }
    one("dedup").foreach { case (s, sp) =>
      m ++= Map("dedup.s" -> s.durNs / 1e9, "dedup.pairs" -> c.getOrElse("dedup.pairs", 0.0),
        "dedup.shuffle_bytes" -> sp.shuffleWriteBytes.toDouble)
    }
    one("cc").foreach { case (s, sp) =>
      m ++= Map("cc.s" -> s.durNs / 1e9, "cc.jobs" -> sp.jobs.toDouble,
        "cc.job_s_max" -> (0L +: sp.jobMs.toSeq).max / 1000.0,
        "cc.components" -> c.getOrElse("cc.components", 0.0))
    }
    durS("keep").foreach(d => m += "keep.s" -> d)
    Seq("value", "list", "map").foreach(p => durS(s"project.$p").foreach(d => m += s"project.$p" -> d))
    val all = combine(it.spark.values)
    m ++= Map(
      "spark.jobs" -> all.jobs.toDouble, "spark.tasks" -> all.tasks.toDouble,
      "spark.cpu_s" -> all.cpuNs / 1e9, "spark.gc_s" -> all.gcMs / 1000.0,
      "spark.shuffle_read_bytes" -> all.shuffleReadBytes.toDouble,
      "spark.peak_exec_mem_mb" -> all.peakExecMemBytes / 1048576.0)
    val root = it.spans.find(_.parent < 0).get
    m += "trace.span_cover_frac" -> (1.0 - SelfTime.selfNs(it.spans)(root.id).toDouble / root.durNs)
    m.result()
  }

  private def medians(maps: Seq[Map[String, Double]]): Map[String, Double] =
    maps.flatMap(_.keys).distinct.map(k => k -> Stats.median(maps.flatMap(_.get(k)))).toMap

  def perLayer(ok: Seq[IterRun], probe: ProbeRun, cores: Int): Seq[(String, String, Double)] = {
    val traced = ok.filter(_.traced)
    val untraced = ok.filterNot(_.traced)
    val iter = medians(traced.map(layers(_, cores)))
    val probeSpans = probe.spans.groupBy(_.name)
    // the raw scan of an input with fewer state files than cores
    val inputScan = medians(probeSpans.getOrElse("scan.input", Nil).map { s =>
      val m = scan(s, probe.spark(s.id), 0.0, 0.0, cores)
      Map("scan.input_s" -> m("scan.s"), "scan.input_core_util" -> m("scan.core_util"))
    })
    // typed read minus a raw scan of the same state
    val project = Seq("value", "list", "map").flatMap { p =>
      for {
        typed <- iter.get(s"project.$p")
        raw <- probeSpans.get(s"raw.$p")
      } yield s"project.${p}_s" -> (typed - Stats.median(raw.map(_.durNs / 1e9)))
    }
    val trace =
      if (traced.isEmpty || untraced.isEmpty) Map.empty[String, Double]
      else {
        val tj = Stats.median(traced.map(_.jobS))
        Map("trace.job_s" -> tj, "trace.overhead_frac" -> (tj / Stats.median(untraced.map(_.jobS)) - 1))
      }
    val v = iter ++ probe.values ++ inputScan ++ project ++ trace
    PerLayer.map { case (n, u) => (n, u, v.getOrElse(n, 0.0)) }
  }

  /** Per span: duration, self time and the Spark work charged to it. */
  def spanTable(spans: Seq[Span], spark: Map[Int, SpanSpark]): Seq[Map[String, Any]] = {
    val self = SelfTime.selfNs(spans)
    spans.sortBy(_.startNs).map { s =>
      val sp = spark.getOrElse(s.id, new SpanSpark)
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "dur_s" -> s.durNs / 1e9, "self_s" -> self(s.id) / 1e9,
        "jobs" -> sp.jobs, "tasks" -> sp.tasks, "task_s" -> sp.runMs / 1000.0,
        "cpu_s" -> sp.cpuNs / 1e9, "gc_s" -> sp.gcMs / 1000.0,
        "shuffle_read_bytes" -> sp.shuffleReadBytes, "shuffle_write_bytes" -> sp.shuffleWriteBytes,
        "spill_bytes" -> sp.spillDiskBytes, "peak_exec_mem_mb" -> sp.peakExecMemBytes / 1048576.0)
    }
  }
}
