package graft.operators

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** Session-lifetime memo for ingest-built artifacts (centroids, list
  * assignments, codebooks, codes, tf-idf tables, trained models, built
  * index directories): ingest once, probe many. Every owner uses
  * [[Memo.shared]], so one [[invalidate]] reaches a corpus's artifacts.
  *
  * == Key contract ==
  *
  * An entry's key is `(cacheKey, subKey)`. The `cacheKey` names an
  * IMMUTABLE corpus snapshot (by convention its directory); the `subKey`
  * starts with the artifact KIND (`ivf-centroids/…`, `pq-books/…`),
  * unique to the owner that builds it, followed by every parameter the
  * build depends on. `None` disables memoization: the build runs inline
  * every call. Re-keying a changed corpus needs a new key or
  * [[invalidate]]. Every artifact is a deterministic function of its
  * key, so pinned oracles are unaffected by cache state.
  *
  *   - [[apply]] — a GUARDED DataFrame build, which must be a pure plan
  *     construction (no action): it is constructed on every call and
  *     fingerprinted by its analyzed plan's `semanticHash` (analysis
  *     only, O(plan)); reusing a key with a semantically different
  *     input throws. Entries persist at MEMORY_AND_DISK.
  *   - [[once]] — any value whose build runs jobs. `make` runs at most
  *     once per key, outside the map's lock (builds may nest `once` and
  *     `apply` on one instance); concurrent first callers wait for it;
  *     a hit runs nothing; a failed `make` is not cached, and the next
  *     caller (a waiter included) runs its own `make`. A DataFrame
  *     value is persisted by its `make`. [[peek]] reads a finished
  *     entry without building it.
  */
private[graft] final class Memo {
  // guarded entry = (input fingerprint, persisted artifact)
  private val guarded = new ConcurrentHashMap[(String, String), (Int, DataFrame)]()
  private val built = new ConcurrentHashMap[(String, String), Memo.Cell]()

  def apply(cacheKey: Option[String], subKey: String)(
      build: => DataFrame): DataFrame = cacheKey match {
    case Some(key) =>
      val df = build
      val fp = df.queryExecution.analyzed.semanticHash()
      val e = guarded.computeIfAbsent((key, subKey), _ =>
        (fp, df.persist(StorageLevel.MEMORY_AND_DISK)))
      if (e._1 != fp)
        throw new IllegalStateException(
          s"Memo key '$key/$subKey' reused with a semantically different " +
            s"input plan (cached fingerprint ${e._1}, this build $fp): " +
            "a cacheKey names an IMMUTABLE corpus snapshot — use a new " +
            "key or invalidate() the stale one")
      e._2
    case None => build
  }

  def once[T](cacheKey: Option[String], subKey: String)(make: => T): T =
    cacheKey match {
      case Some(key) =>
        val k = (key, subKey)
        val cell = built.computeIfAbsent(k, _ => new Memo.Cell)
        val v = cell.get(() => make)
        // invalidated mid-build: no entry will ever release the value
        if (!(built.get(k) eq cell)) Memo.release(v)
        v.asInstanceOf[T]
      case None => make
    }

  /** The value of a FINISHED `once` entry, without building it — for a
    * caller that reads every missing key's value in one batch. */
  def peek(cacheKey: String, subKey: String): Option[Any] =
    Option(built.get((cacheKey, subKey))).flatMap(_.peek)

  /** Drop every entry under `keyPrefix`, unpersisting DataFrame values —
    * matched on a key-SEGMENT boundary of `cacheKey/subKey` (`keyPrefix`
    * exactly, or `keyPrefix/`…), so evicting "…/corpus1" never touches
    * "…/corpus10"; the empty prefix matches all. A non-empty `kinds`
    * keeps every other kind. Safe on a live session: plans that already
    * resolved a dropped DataFrame recompute from lineage; a `once` build
    * running when dropped completes for its callers, uncached and
    * unpersisted. */
  def invalidate(keyPrefix: String, kinds: Set[String] = Set.empty): Unit = {
    def under(k: (String, String)) = (keyPrefix.isEmpty ||
      s"${k._1}/${k._2}/".startsWith(keyPrefix + "/")) &&
      (kinds.isEmpty || kinds.contains(k._2.takeWhile(_ != '/')))
    val g = guarded.entrySet().iterator()
    while (g.hasNext) {
      val e = g.next()
      if (under(e.getKey)) { Memo.release(e.getValue._2); g.remove() }
    }
    val b = built.entrySet().iterator()
    while (b.hasNext) {
      val e = b.next()
      if (under(e.getKey)) { e.getValue.peek.foreach(Memo.release); b.remove() }
    }
  }
}

private[graft] object Memo {
  /** The session-wide instance every artifact owner builds through. */
  val shared = new Memo

  private def release(v: Any): Unit = v match {
    case ds: Dataset[_] => ds.unpersist(blocking = false)
    case _ => ()
  }

  /** One `once` entry: the first caller to take the cell's monitor runs
    * its own `make` under it, never under the map's lock; a throwing
    * `make` leaves the cell empty for the next caller. */
  final class Cell {
    @volatile private var done = false
    private var value: Any = _

    def get(make: () => Any): Any = {
      if (!done) synchronized {
        if (!done) { value = make(); done = true }
      }
      value
    }

    def peek: Option[Any] = if (done) Some(value) else None
  }
}
