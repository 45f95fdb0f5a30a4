package graft.sources

/** THE driver memo for values derived from tables and reused across
  * queries (footer stats, trained models, a loaded sketch, side constants).
  * One entry per key, stored with the IDENTITY it was computed under — for
  * a table-derived value, [[IO.tableIdentity]] of every table it derives
  * from, taken before the inputs are read. A lookup hits only on an equal
  * identity, else recomputes and REPLACES the entry: a table rewritten in
  * place misses, and old versions never accumulate. No lock is held while
  * computing (the residual-PQ trainer looks up the coarse codebook
  * mid-train); a race may compute a deterministic value twice. Entries
  * live for the JVM, across sessions.
  */
private[graft] object Memo {

  private final case class Entry(identity: Any, value: Any)

  private val entries = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  def apply[T](key: String, identity: Any)(compute: => T): T = {
    val hit = entries.get(key)
    if (hit != null && hit.identity == identity) hit.value.asInstanceOf[T]
    else { val value = compute; put(key, identity, value); value }
  }

  /** Seed an entry with a value the caller already holds (a prime that has
    * the bytes it just persisted), so the first lookup runs no job.
    */
  def put(key: String, identity: Any, value: Any): Unit =
    entries.put(key, Entry(identity, value))

  /** Test seams: the entry count, and forgetting every entry. */
  def size: Int = entries.size
  def clear(): Unit = entries.clear()
}
