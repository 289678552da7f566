package perfbench

/** Entry point of one benchmark run:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --root <dir>
  *      [--spans-out <file>]
  * }}}
  *
  * Prints every metric as `metric <name> <value> <unit>`, then one JSON
  * result line. `--root` is the temp directory all run files go under; the
  * caller (run.py) creates and deletes it.
  */
object Main {

  val Workloads: Seq[String] = Seq("ann-serve", "ann-ingest", "curate")

  /** Set-ups per run; `setup_s` reports their median. */
  val SetupReps = 3

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of $Workloads")
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be >= 1")
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace is 0 or 1")
    Args(workload, need("seed").toLong, seconds, trace == "1", need("root"), kv.get("spans-out"))
  }

  def workload(a: Args): Workload = a.workload match {
    case "ann-serve" => new ServeWorkload(a.seed)
    case "ann-ingest" => new IngestWorkload(a.seed)
    case "curate" => new CurateWorkload(a.seed)
  }

  def run(a: Args): Unit = {
    val h = new Harness(a)
    val w = workload(a)
    h.layers.foreach(_.start())
    val setupTimes = (1 to SetupReps).map { r =>
      val dir = s"${a.root}/setup-$r"
      val (_, s) = Harness.timeS(w.setup(h, dir))
      if (r > 1) h.deleteTree(s"${a.root}/setup-${r - 1}")
      s
    }
    val (_, warmS) = Harness.timeS(w.warmup(h))
    h.recording = true
    val (_, windowS) = Harness.timeS(w.windowSteps match {
      case Some(n) => (1 to n).foreach(_ => w.step(h))
      case None => h.closedLoop(a.seconds.toDouble)(w.step(h))
    })
    h.recording = false
    h.layers.foreach(_.stop())
    val (_, verifyS) = Harness.timeS(w.verify(h))
    System.err.println(f"[perfbench] session ${h.sessionS}%.1f s, set-ups " +
      setupTimes.map(t => f"$t%.1f").mkString("/") +
      f" s, warm-up $warmS%.1f s, window $windowS%.1f s, checks $verifyS%.1f s, " +
      f"mean op ${h.ops.map(o => o.end - o.start).sum / math.max(1, h.ops.size)}%.1f ms")

    val lead = h.latencies(w.classes.head)
    val endToEnd = w.endToEnd(h) ++ Map(
      "setup_s" -> (h.sessionS + Stats.median(setupTimes)),
      "lead_p50_ms" -> (if (lead.isEmpty) Double.NaN else Stats.median(lead)),
      "success_rate" -> (1.0 - h.failed.toDouble / math.max(1, h.attempted)))
    val perLayer = h.layers.fold(Map.empty[String, Double]) { l =>
      Report.sparkLayer(h, l) ++ w.classes.filter(Seq("dedup", "postings", "bm25").contains)
        .flatMap(c => Report.opsStage(h, l, c)) ++
        w.perLayer(h, l) ++ Report.traceLayer(h, l) ++ Report.diagnostics(h, w.classes)
    }
    Report.emit(h, endToEnd, perLayer)
    h.spark.stop()
  }

  def main(argv: Array[String]): Unit = {
    val a =
      try parse(argv)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(s"[perfbench] ${e.getMessage}")
          sys.exit(2)
      }
    try {
      run(a)
      sys.exit(0)
    } catch {
      case e: Throwable =>
        System.err.println("[perfbench] run failed")
        e.printStackTrace()
        sys.exit(1)
    }
  }
}
