package perfbench

/** A benchmark workload: what set-up loads, what one client's round of
  * ops is, and how its answers are checked.
  */
trait Workload {
  def clients: Int
  /** Generate the inputs and load them (timed as `gen`/`load`). */
  def setup(run: Run): Unit
  /** One round of ops for `client`; the loop runs whole rounds. */
  def round(run: Run, client: Int, r: Int): Unit
  /** Checks that need answers computed after the timed phase. */
  def verify(run: Run): Unit
  /** Workload-specific figures read once the timed phase is over. */
  def finish(run: Run): Map[String, Double]
}

/** A benchmark workload made of parts that take turns: one round runs
  * each part's round in order, a part's own clients side by side, so
  * parts never contend with each other and every round has the same op
  * mix. `keyOps` are the op kinds whose median latency is `op_p50_ms`;
  * `rowOps` the kinds whose rows count in `rows_per_s`.
  */
final class Mix(val name: String, parts: Seq[Workload], val keyOps: Set[String],
    val rowOps: Set[String]) extends Workload {
  val clients = 1
  def setup(run: Run): Unit = parts.foreach(_.setup(run))
  def round(run: Run, client: Int, r: Int): Unit =
    parts.foreach(p => run.concurrently(p.clients)(c => p.round(run, c, r)))
  def verify(run: Run): Unit = parts.foreach(_.verify(run))
  def finish(run: Run): Map[String, Double] =
    parts.map(_.finish(run)).foldLeft(Map.empty[String, Double])(_ ++ _)
}

object Workload {
  /** The two benchmark workloads. */
  def apply(name: String): Mix = name match {
    case "serve_ingest" => new Mix(name,
      Seq(new ServeScan(nOrders = 30000, nEvents = 40000),
        new IngestDml(baseRows = 30000, appendRows = 10000)),
      keyOps = Set("lookup"), rowOps = Set("append", "dml", "overwrite"))
    case "stream_dedup" => new Mix(name,
      Seq(new StreamWindow(nEvents = 20000, nDocs = 2000, nOrders = 10000),
        new DedupGraph(nDocs = 1500, nOrders = 15000, chains = 65000)),
      keyOps = Set("drive"), rowOps = Set("drive", "pipeline"))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}
