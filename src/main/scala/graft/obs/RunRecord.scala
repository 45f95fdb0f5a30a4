package graft.obs

/** One query run's record: the loop telemetry and the degraded paths its
  * operators took, as `key -> Long` notes.
  *
  * [[capture]] opens a record on the calling thread for the duration of
  * its body (a query's build AND its action: both run on the caller's
  * thread, and every note below is written on the driver); operators
  * [[note]] into whatever record is open. Outside a capture a note is
  * dropped, and a [[degraded]] note prints its one stderr line instead.
  * Records are per thread, so two queries running concurrently on one
  * session never see each other's notes, and a record holds only the
  * notes of the run it captured. Bench, Verify and the specs all read
  * loop telemetry this way.
  *
  * Durations are nanoseconds.
  */
object RunRecord {

  /** Star-contraction rounds of a connected-components run (0 when the
    * driver union-find served it).
    */
  val ClusterRounds = "cluster.rounds"

  /** Edge count of the final contracted star forest (or of the edges the
    * driver union-find read).
    */
  val ClusterEdges = "cluster.edges"

  /** Spark actions a connected-components run paid. */
  val ClusterActions = "cluster.actions"

  /** Graph-build half of a PageRank or SCC row's wall. */
  val GraphBuildNs = "graph.build_ns"

  /** Loop half of a PageRank or SCC row's wall. */
  val GraphLoopNs = "graph.loop_ns"

  /** Peeling rounds of a k-core run. */
  val KCoreRounds = "kcore.rounds"

  /** FW-BW sweeps of an SCC run. */
  val SccSweeps = "scc.sweeps"

  /** Spark actions an SCC run paid: the driver-roundtrip currency of the
    * loop floor (~200 ms/action in local mode).
    */
  val SccActions = "scc.actions"

  /** Nodes an SCC run left unresolved: 0 on a converged run, > 0 only
    * when a non-strict run hit its sweep budget and emitted provisional
    * (f, b)-class ids.
    */
  val SccUnresolved = "scc.unresolved"

  /** Pre-cap candidate volume of an IVF margin run that computed it. */
  val MarginIvfCandidates = "margin_ivf.candidates"

  /** The count-product bound that let an IVF margin run skip the volume
    * aggregate (the budget provably could not engage).
    */
  val MarginIvfSkippedBound = "margin_ivf.skipped_bound"

  /** 1 when a served artifact failed validation and was re-primed. */
  val ArtifactReprimed = "artifact.reprimed"

  private val open = new ThreadLocal[scala.collection.mutable.Map[String, Long]]

  /** Run `body` under a fresh record; returns its result with the notes
    * written while it ran. A nested capture keeps its notes to itself.
    */
  def capture[A](body: => A): (A, Map[String, Long]) = {
    val outer = open.get
    val rec = scala.collection.mutable.Map.empty[String, Long]
    open.set(rec)
    try {
      val result = body
      (result, rec.toMap)
    } finally open.set(outer)
  }

  /** Write `key` into the open record; a later note of the same key
    * replaces this one.
    */
  def note(key: String, value: Long): Unit = {
    val rec = open.get
    if (rec != null) rec(key) = value
  }

  /** [[note]] for a degraded path: with no record open, `message` goes
    * to stderr instead, so a run outside any capture still shows it.
    */
  def degraded(key: String, value: Long)(message: => String): Unit = {
    val rec = open.get
    if (rec != null) rec(key) = value
    else System.err.println(s"[graft] $message")
  }
}
