package perfbench

/** One benchmark workload, driven by [[Main]]: set up several times (the
  * last set-up is kept), warm up, run a closed loop for the window, then
  * check every answer and compute metrics.
  */
trait Workload {

  /** The three op classes behind the `lead`, `second` and `third` latency
    * slots, in that order.
    */
  def classes: Seq[String]

  /** One full set-up into fresh directories under `dir`. */
  def setup(h: Harness, dir: String): Unit

  /** Ops run before the window so caches fill and the JIT settles. */
  def warmup(h: Harness): Unit

  /** Steps in the timed window: None runs steps until `--seconds` have
    * passed.
    */
  def windowSteps: Option[Int] = None

  /** One step of the closed loop: one or more recorded ops. */
  def step(h: Harness): Unit

  /** Checks every recorded answer against the ground truth. */
  def verify(h: Harness): Unit

  /** End-to-end metrics other than `setup_s`, `lead_p50_ms` and
    * `success_rate`, which [[Main]] derives the same way everywhere.
    */
  def endToEnd(h: Harness): Map[String, Double]

  /** Workload-specific per-layer metrics (traced runs). */
  def perLayer(h: Harness, l: Layers): Map[String, Double]
}
