package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped persisted-DataFrame cache keyed by (session, fixture
  * dir, table name) — the shared-subplan pattern behind the Jaccard
  * family's posting table, generalized so any operator with an
  * expensive subplan consumed by several registry queries (or several
  * times inside one iterative query) can reuse one materialization per
  * Verify/Bench run instead of rebuilding per call.
  *
  * Keying by session identity (not just dir) keeps entries from a
  * stopped test session from being served to a new one. Eviction is
  * access-order LRU with a 64-entry cap: a run touches at most two
  * fixture dirs (bench warm dir + target) and the registry currently
  * materializes ~16 distinct shared subplans per dir, so the live
  * working set is ~32 — the cap must sit well above it or live entries
  * are evicted mid-run and every consumer after the eviction silently
  * rebuilds (the round-4 q44/q45 regression). PlanLintSpec asserts
  * cap >= 2x [[KnownKeyNames]] (the committed key inventory) and that
  * every key actually requested is committed there, so growth in the
  * inventory can't silently cross the cap again.
  */
private[graft] object PlanCache {

  /** Persist `df` unless a logically-equal plan is already cached —
    * `Dataset.storageLevel` consults the session CacheManager by
    * canonicalized-plan equality, the same lookup that makes a second
    * `persist` log `CacheManager: Asked to cache already cached data`.
    *
    * SCRATCH TRACKING (r16): a bare per-query freeze used to stay
    * persisted for the rest of the session — ~14 r15 call sites pinned
    * full join intermediates in the shared local-mode heap and every
    * later query paid for it (the r15 board's ~17 % wall tax, guide §5:
    * "unpersist when done"). freeze now registers what it persisted in
    * a scratch set; Bench/Verify call [[releaseScratch]] after each
    * query's action completes (the Curate.scala try/finally pattern,
    * centralized). Only [[getOrBuild]] entries — the LRU-capped shared
    * subplans — survive across queries. Releasing AFTER the action is
    * load-bearing for RangeNtile/RangeLead: their freeze pins sampled
    * range boundaries between two passes of one query, both inside the
    * action.
    */
  def freeze[T](ds: Dataset[T]): Dataset[T] =
    if (ds.storageLevel == StorageLevel.NONE) {
      val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
      scratch.synchronized { scratch.put(p, ()): Unit }
      p
    } else ds

  /** Per-query persisted intermediates awaiting release; identity-keyed
    * (Dataset has reference equality) so getOrBuild can take ownership
    * of the exact object it stores.
    */
  private val scratch =
    new java.util.IdentityHashMap[Dataset[_], Unit]()

  /** Unpersist every freeze not owned by getOrBuild. Called by Verify
    * after each query's action and by Bench after ALL of a query's
    * timed runs, not between them: Bench's second best-of-2 run may read
    * the freezes of its first (the warm-over disclosed in Bench), and its
    * `first` map carries the cold run-1 walls.
    */
  def releaseScratch(): Unit = {
    val toRelease = scratch.synchronized {
      val ds = new java.util.ArrayList(scratch.keySet())
      scratch.clear()
      ds
    }
    toRelease.forEach(_.unpersist(blocking = false): Unit)
  }

  /** Take ownership of a getOrBuild entry: drop it from scratch and
    * re-persist if a prior release (a canonicalized-plan collision with
    * a per-query freeze) unpersisted it out from under the map.
    */
  private def own(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE)
      df.persist(StorageLevel.MEMORY_AND_DISK): Unit
    scratch.synchronized { scratch.remove(df): Unit }
    df
  }

  /** Cap on live cached subplans; must stay >= 2x the distinct
    * per-dir key inventory (enforced by PlanLintSpec).
    */
  val cap: Int = 64

  /** The COMMITTED per-dir subplan key inventory — every getOrBuild
    * call site's name literal. The cap tripwire in PlanLintSpec asserts
    * against this constant (so it holds even when the spec runs in
    * isolation, before any registry query has populated the cache) and
    * separately asserts every observed key is listed here (so adding a
    * call site without updating this set fails the build). Keys of the
    * form `cc_<threshold>` are dynamic; only cc_0.8 is cached in
    * practice (other thresholds bypass the cache via
    * jaccardPairsUncached) but the spec accepts the prefix.
    */
  val KnownKeyNames: Set[String] = Set(
    "inverted", "pairs_0.8", "pairs_0.5", "cc_0.8", "sessions",
    "centroids", "blocks", "copurchase_edges_min2",
    "trade_edges", "q55_uni", "q55_bi", "q57_tf", "q57_topk", "q93_topk",
    "q82_edges", "q125_scounts", "q140_old_labels",
    "copurchase_baskets", "copurchase_pairs", "copurchase_degree",
    "copurchase_adj_deg", "copurchase_deg_min2", "copurchase_oriented",
    "train_unigram", "cust_supp_edges", "corpus_bands", "lsh_cand_pairs",
    "corpus_sigs", "doc_sets")

  /** Every distinct subplan name ever requested this JVM — the spec's
    * measurement of the key inventory, independent of eviction.
    */
  private val seenNames = scala.collection.mutable.Set[String]()

  def distinctKeyNames: Set[String] = entries.synchronized(seenNames.toSet)

  private val entries =
    new java.util.LinkedHashMap[(Int, String, String), DataFrame](128, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, String, String), DataFrame]): Boolean = {
        val evict = size() > cap
        if (evict) e.getValue.unpersist(blocking = false): Unit
        evict
      }
    }

  def getOrBuild(s: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame =
    entries.synchronized {
      seenNames += name
      val key = (System.identityHashCode(s), dir, name)
      val cached = entries.get(key)
      if (cached != null) own(cached)
      else {
        val p = own(freeze(build))
        entries.put(key, p)
        p
      }
    }
}
