package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.storage.StorageLevel

/** Pins [[Caches.track]]'s displacement rules — the registry invariants
  * every operator's persist lifecycle rides on:
  *  1. displacing a tag with a DIFFERENT plan unpersists the orphan;
  *  2. same-plan displacement keeps the cache (CacheManager dedupes by
  *     canonical plan — unpersisting would evict the incoming frame's
  *     entry);
  *  3. a handle still registered under ANOTHER tag is NOT unpersisted
  *     when one of its tags is displaced — the surviving tag's consumers
  *     keep their cache and its release() stays meaningful.
  *
  * and the input-file key: an artifact or cached frame built on one
  * corpus is rebuilt once the corpus is rewritten in place, no operator
  * keeps a memo map of its own, and nothing in `src/main` persists a
  * frame outside [[Caches]]. */
class CachesSpec extends SparkSpec {

  private def df(n: Int) = {
    import spark.implicits._
    (1 to n).toDF("x")
  }

  test("displacing a tag with a different plan unpersists the orphan") {
    val a = df(3)
    Caches.track("cachesspec.t1", a)
    assert(a.storageLevel != StorageLevel.NONE)
    val b = df(4)
    Caches.track("cachesspec.t1", b)
    assert(a.storageLevel == StorageLevel.NONE, "orphan must unpersist")
    assert(b.storageLevel != StorageLevel.NONE)
    Caches.releasePrefix("cachesspec.")
  }

  test("same-plan displacement keeps the cache entry alive") {
    val a = df(5)
    Caches.track("cachesspec.t2", a)
    val twin = df(5) // distinct object, same canonical plan
    Caches.track("cachesspec.t2", twin)
    assert(a.storageLevel != StorageLevel.NONE,
      "same-result displacement must not evict the shared cache entry")
    Caches.releasePrefix("cachesspec.")
  }

  test("a frame tracked under two tags survives displacement of one") {
    val shared = df(7)
    Caches.track("cachesspec.a", shared)
    Caches.track("cachesspec.b", shared)
    // displace tag a with a different plan: the old handle is still
    // registered under tag b, so it must stay persisted
    Caches.track("cachesspec.a", df(8))
    assert(shared.storageLevel != StorageLevel.NONE,
      "handle still held by another tag must not be unpersisted")
    // releasing the surviving tag is then the real release
    Caches.release("cachesspec.b")
    assert(shared.storageLevel == StorageLevel.NONE)
    Caches.releasePrefix("cachesspec.")
    spark.catalog.clearCache()
  }

  test("release() keeps a plan another tag still aliases (r15 ADVICE)") {
    // two DISTINCT frames with the SAME canonical plan tracked under two
    // tags — releasing one tag must not unpersist the shared
    // CacheManager entry under the survivor
    val a = df(9)
    val twin = df(9) // distinct object, same canonical plan
    Caches.track("cachesspec.r1", a)
    Caches.track("cachesspec.r2", twin)
    Caches.release("cachesspec.r1")
    assert(twin.storageLevel != StorageLevel.NONE,
      "releasing one tag must not evict a plan another tag still holds")
    assert(a.storageLevel != StorageLevel.NONE,
      "the shared cache entry must survive the single-tag release")
    // the LAST aliasing tag's release frees the block
    Caches.release("cachesspec.r2")
    assert(twin.storageLevel == StorageLevel.NONE)
    Caches.releasePrefix("cachesspec.")
    spark.catalog.clearCache()
  }

  /** A dir holding 40 random 8-dim vectors (the Ann id layout: queries
    * < 8, seeds 8..23) as its embeddings table. */
  private def embeddingsDir(seed: Long): Path = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    Paths.get(fixtureDir("embeddings" ->
      (0 until 40).map(i => Emb(i, Seq.fill(8)(rnd.nextFloat() - 0.5f), 0))
        .toDF()))
  }

  /** An artifact or cached frame built on corpus A must not be served
    * after the dir is rewritten in place with corpus B by another process
    * (a file-level copy, as a ScaleGen run regenerates a dir): `serve`
    * over the rewritten dir must equal a cold `serve` over a dir holding
    * B. */
  private def rebuiltAfterRewrite(serve: String => Seq[Seq[Any]]): Unit = {
    val dir = embeddingsDir(seed = 1)
    val fresh = embeddingsDir(seed = 2)
    val onA = serve(dir.toString) // builds and memoizes A's artifact
    val table = dir.resolve("embeddings.parquet")
    Files.walk(table).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
    Files.walk(fresh.resolve("embeddings.parquet")).forEach(p =>
      Files.copy(p, table.resolve(fresh.resolve("embeddings.parquet")
        .relativize(p).toString)))
    val coldB = serve(fresh.toString)
    assert(onA != coldB, "the two corpora must give different results")
    assert(serve(dir.toString) == coldB,
      "a corpus rewritten in place must be served from a rebuilt artifact")
    Caches.releasePrefix("ann.")
    spark.catalog.clearCache()
  }

  test("memo: trained quantizer is rebuilt when the corpus is rewritten in place") {
    rebuiltAfterRewrite(d =>
      ops.Ann.ivfTopKTrained(spark, d).collect().map(_.toSeq).toSeq)
  }

  test("memo: PQ codebook is rebuilt when the corpus is rewritten in place") {
    rebuiltAfterRewrite(d =>
      ops.Ann.pqTopK(spark, d, dim = 8).collect().map(_.toSeq).toSeq)
  }

  test("track: q83 k-means over a corpus rewritten in place is trained on the new rows") {
    rebuiltAfterRewrite(d =>
      ops.Ann.ivfKmeans(spark, d).collect().map(_.toSeq).toSeq)
  }

  test("track: a tracked table rewritten in place is served with the new rows") {
    rebuiltAfterRewrite(d =>
      Caches.track(s"cachesspec.rows:$d", Tables(spark, d, "embeddings"))
        .orderBy("vec_id").collect().map(_.toSeq).toSeq)
    Caches.releasePrefix("cachesspec.")
  }

  test("operators in graft/ops hold no memo map of their own") {
    // a driver-side artifact goes through Caches.memo, which keys it by
    // the input files; a private map keyed by dir serves a stale value
    // once the corpus is rewritten in place. A map under any spelling
    // (imported or fully qualified, with type arguments or without) is
    // caught; a concurrent key set is not a memo.
    val hits = SessionsSpec.codeHits(
      """ConcurrentHashMap[\[(]|TrieMap|computeIfAbsent""".r,
      _.startsWith("graft/ops"))
    if (hits.nonEmpty) fail(s"${hits.size} code lines in graft/ops build " +
      "a memo map; route the artifact through Caches.memo:\n" +
      hits.mkString("\n"))
  }

  test("only Caches.scala persists or unpersists a frame in src/main") {
    // a raw persist is keyed by nothing: no tag releases it and a corpus
    // rewritten in place keeps its old rows (localCheckpoint is a lineage
    // cut, not a cache, and stays allowed)
    val hits = SessionsSpec.codeHits(CachesSpec.Persist,
      _.toString != "graft/Caches.scala")
    if (hits.nonEmpty) fail(s"${hits.size} code lines cache a frame " +
      "outside Caches; route them through Caches.track:\n" +
      hits.mkString("\n"))
  }
}

object CachesSpec {
  /** A persist, an unpersist or a cache() call. */
  val Persist = """\.persist\(|\.unpersist\(|\.cache\(\)""".r
}
