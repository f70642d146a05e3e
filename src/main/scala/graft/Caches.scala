package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Tracked persist() handles for library entry points.
  *
  * Several operators persist an intermediate that MULTIPLE subtrees of
  * their (lazy) returned plan consume — the dedup digest base, the
  * k-means embedding projection, the bloom eval-shingle carve, the q84
  * stored-history fixture. The persist must still be registered when the
  * CALLER finally materializes the plan, so the operator cannot
  * `unpersist()` in a `finally` before returning; and `spark.catalog
  * .clearCache()` (the harness mains' per-query contract) is too blunt
  * for a long-lived user session — it drops caches the caller owns.
  *
  * This registry is the middle path: operators `track(tag, df)` their
  * persisted handles, and a caller releases exactly the caches a module
  * created — [[release]] by tag, or a module-scoped [[releasePrefix]]
  * (e.g. `Caches.releasePrefix("ann.")` after an IVF session) — without
  * touching anything else in the session. Tags embed the source dir so
  * two dirs' caches never alias. Re-tracking an identical plan is safe:
  * Spark's CacheManager dedupes cached plans, and the registry keeps the
  * newest handle. The harness mains keep their `clearCache()` contract
  * unchanged (it also empties this registry's storage; stale registry
  * entries then unpersist as no-ops).
  *
  * [[memo]] is the driver-side twin for small build-once artifacts (a
  * trained quantizer, a PQ codebook, a corpus count): values held on the
  * driver, not persisted frames, keyed by the input files they were
  * built from.
  */
object Caches {
  private val reg = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** Drop registry entries whose plan has NO live cache entry: a tag
    * left behind by `spark.catalog.clearCache()` would otherwise keep `aliased` true for a freshly tracked same-plan frame
    * forever, turning the live tag's release into a permanent no-op —
    * a leak in long sessions mixing clearCache with track/release).
    *
    * The purge MUST run before a new `persist()` re-creates the cache
    * entry: `Dataset.storageLevel` is a CacheManager lookup keyed by the
    * canonical PLAN, not by handle, so once a same-plan frame is
    * re-persisted the stale tag's handle reports the new entry's level
    * and becomes indistinguishable from a live alias — which is why the
    * check sits at the top of [[track]] (pre-persist) and [[release]]
    * rather than inside the alias predicate. */
  private def purgeStale(): Unit =
    reg.foreach { case (t, h) =>
      if (h.storageLevel == StorageLevel.NONE) { reg.remove(t, h); () }
    }

  /** Persist `df` (if not already persisted) and track the handle under
    * `tag`; returns `df`. A displaced handle whose plan DIFFERS from the
    * incoming one is unpersisted here: repeat-callable track sites
    * would otherwise accumulate orphaned persisted frames over a long
    * session. Same-plan displacement must NOT unpersist:
    * Spark's CacheManager dedupes by canonical plan, so dropping the old
    * handle would evict the cache entry the incoming frame relies on —
    * and that protection extends across TAGS: the same
    * frame tracked under two tags and displaced under one stays cached
    * while any OTHER registry entry still resolves to the same result,
    * so the surviving tag's consumers keep their cache and its later
    * release() stays meaningful. */
  def track(tag: String, df: DataFrame): DataFrame = {
    purgeStale()
    if (df.storageLevel == StorageLevel.NONE) df.persist()
    reg.put(tag, df).foreach { old =>
      def same(a: DataFrame, b: DataFrame) =
        a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed)
      if ((old ne df) && !same(old, df) &&
          !reg.exists { case (t, h) => t != tag && same(h, old) })
        old.unpersist()
    }
    df
  }

  /** Unpersist and forget the handle tracked under `tag` (no-op when
    * absent or already cleared by the harness's clearCache). Mirrors
    * [[track]]'s cross-tag guard: when another
    * registry entry's handle is sameResult with the removed one — e.g.
    * `ann.recall_base:<dir>` and `ann.pq_base:<dir>` both tracking the
    * withNorm plan — releasing ONE tag must not unpersist the shared
    * CacheManager entry out from under the surviving tag's consumers;
    * the block is freed when the LAST aliasing tag releases. */
  def release(tag: String): Unit = {
    purgeStale()
    reg.remove(tag).foreach { old =>
      val aliased = reg.values.exists(h =>
        h.queryExecution.analyzed.sameResult(old.queryExecution.analyzed))
      if (!aliased) old.unpersist()
    }
  }

  /** Release every tracked handle whose tag starts with `prefix` — the
    * module-scoped cleanup (`"textpipeline."`, `"ann."`, …). */
  def releasePrefix(prefix: String): Unit =
    reg.keys.filter(_.startsWith(prefix)).foreach(release)

  /** Tags currently tracked (diagnostics/tests). */
  def tracked: Set[String] = reg.keySet.toSet

  // one slot per (key, dir): the fingerprint it was built under and the
  // value, built on first read (concurrent readers wait for one build)
  private final class Built(val fingerprint: String, build: () => Any) {
    lazy val value: Any = build()
  }
  private val memos = new ConcurrentHashMap[String, Built]

  /** `build`'s value for the artifact `key` over `dir`, built once while
    * the `tables` under `dir` keep their [[Tables.fingerprint]] and built
    * again when any of them is rewritten in place, so a regenerated corpus
    * never gets the old corpus's model. A rewrite the memo sees also
    * refreshes the session's cached frames over those tables, which Spark
    * would otherwise keep serving with the old rows to the rebuild and
    * to its caller. `key` names the artifact and its parameters and fixes
    * the value's type. Holds one value per (`key`, `dir`); a build that
    * throws leaves nothing behind. A `jdbc:` dir has an empty
    * fingerprint, so its value is keyed by the URL alone and lives until
    * [[clearMemo]]. */
  def memo[T](spark: SparkSession, key: String, dir: String,
      tables: Seq[String])(build: => T): T = {
    val slotKey = s"$key@$dir"
    val fp = tables.map(Tables.fingerprint(spark, dir, _)).mkString("|")
    if (Option(memos.get(slotKey)).exists(_.fingerprint != fp))
      tables.foreach(t => spark.catalog.refreshByPath(s"$dir/$t.parquet"))
    val slot = memos.compute(slotKey, (_, held) =>
      if (held != null && held.fingerprint == fp) held
      else new Built(fp, () => build))
    try slot.value.asInstanceOf[T]
    catch { case e: Throwable => memos.remove(slotKey, slot); throw e }
  }

  /** Drop every [[memo]] value — for tests that pin a rebuilt artifact
    * equal to the memoized one. */
  def clearMemo(): Unit = memos.clear()
}
