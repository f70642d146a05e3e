package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.storage.StorageLevel

/** The one path by which code persists a frame, keyed by the files the
  * frame reads.
  *
  * An operator whose plan consumes one intermediate in several subtrees
  * persists it with [[track]]`(tag, df)`. The cache must outlive the
  * operator, because the caller materializes the plan later, so the
  * caller releases exactly the caches a module created: [[release]] by
  * tag, or [[releasePrefix]] for a module (`"ann."`), leaving caches it
  * owns itself alone. Tags are `<module>.<name>:<dir>`, one per plan, so
  * two dirs' caches never alias. `spark.catalog.clearCache()` also
  * empties this registry's storage; its stale entries are then dropped.
  *
  * Each tracked handle keeps the file listing its frame's relations were
  * resolved over. Spark's CacheManager matches a cached plan by root path,
  * so after a dir is rewritten in place it keeps serving the old rows;
  * tracking a tag again over a changed listing first refreshes the
  * session's cached frames over those roots.
  *
  * [[memo]] is the driver-side twin for small build-once artifacts (a
  * trained quantizer, a PQ codebook): values held on the
  * driver, not persisted frames, keyed by the input files they were
  * built from.
  */
object Caches {
  // a tracked handle and the `filesRead` listing of its relations
  private final class Held(val df: DataFrame, val files: String)
  private val reg = scala.collection.concurrent.TrieMap.empty[String, Held]

  /** Drop registry entries whose plan has no live cache entry: a tag left
    * behind by `spark.catalog.clearCache()` would otherwise keep a freshly
    * tracked same-plan frame aliased forever, turning the live tag's
    * release into a permanent no-op.
    *
    * The purge must run before a new `persist()` re-creates the cache
    * entry: `Dataset.storageLevel` is a CacheManager lookup keyed by the
    * canonical plan, not by handle, so once a same-plan frame is
    * re-persisted the stale tag's handle reports the new entry's level
    * and looks like a live alias. Hence it sits at the top of [[track]]
    * and [[release]]. */
  private def purgeStale(): Unit =
    reg.foreach { case (t, h) =>
      if (h.df.storageLevel == StorageLevel.NONE) { reg.remove(t, h); () }
    }

  /** The root paths of `df`'s file relations and their data files as those
    * relations listed them (`path:size:mtime`, sorted, comma-joined). Read
    * from each relation's own FileIndex: no listing, no job. */
  private def filesRead(df: DataFrame): (Seq[String], String) = {
    val indexes = df.queryExecution.analyzed.collectWithSubqueries {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }.collect { case i: PartitioningAwareFileIndex => i }
    (indexes.flatMap(_.rootPaths.map(_.toString)).distinct, indexes
      .flatMap(_.allFiles().map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}"))
      .sorted.mkString(","))
  }

  /** Refresh the session's cached frames over `roots` when the files
    * under them moved from `before` to `now`. */
  private def refreshIfRewritten(spark: SparkSession, before: Option[String],
      now: String, roots: => Seq[String]): Unit =
    if (before.exists(_ != now)) roots.foreach(spark.catalog.refreshByPath)

  /** Persist `df` (if not already persisted) and track the handle under
    * `tag`; returns `df`. A displaced handle whose plan differs from the
    * incoming one is unpersisted, so repeat-callable track sites do not
    * accumulate orphaned frames over a long session. Same-plan
    * displacement must not unpersist: the CacheManager dedupes by
    * canonical plan, so dropping the old handle would evict the entry
    * the incoming frame relies on. The same holds across tags: a handle
    * displaced under one tag stays cached while another tag still holds
    * a same-result handle, so that tag's release stays meaningful. */
  def track(tag: String, df: DataFrame): DataFrame = {
    purgeStale()
    val (roots, files) = filesRead(df)
    refreshIfRewritten(df.sparkSession, reg.get(tag).map(_.files), files, roots)
    if (df.storageLevel == StorageLevel.NONE) df.persist()
    reg.put(tag, new Held(df, files)).foreach { old =>
      def same(a: DataFrame, b: DataFrame) =
        a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed)
      if ((old.df ne df) && !same(old.df, df) &&
          !reg.exists { case (t, h) => t != tag && same(h.df, old.df) })
        old.df.unpersist()
    }
    df
  }

  /** Unpersist and forget the handle tracked under `tag` (a no-op when
    * absent or already cleared by `clearCache`). Mirrors [[track]]'s
    * cross-tag guard: while another tag holds a same-result handle,
    * releasing one tag leaves the shared CacheManager entry to the
    * survivor; the last aliasing tag's release frees the block. */
  def release(tag: String): Unit = {
    purgeStale()
    reg.remove(tag).foreach { old =>
      val aliased = reg.values.exists(h =>
        h.df.queryExecution.analyzed.sameResult(old.df.queryExecution.analyzed))
      if (!aliased) old.df.unpersist()
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
    refreshIfRewritten(spark, Option(memos.get(slotKey)).map(_.fingerprint),
      fp, tables.map(t => s"$dir/$t.parquet"))
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
