package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, LinkageStore}

/** Specs for [[graft.ops.LinkageStore]] — incremental entity
  * resolution. The load-bearing property is EQUIVALENCE: after any
  * sequence of init/append/remove, the store's labels must equal what
  * a batch [[Dedup.resolveEntities]] over the accumulated live corpus
  * assigns — cross-batch group merges, canonical flips to a new
  * lexicographic min, bridge-removal splits, and canonical-removal
  * renames included. Plus the chain protocol edges: content-level
  * replay idempotence, stale-base refusal, compact/prune, and the
  * row-resolution read surface. */
class LinkageStoreSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: (String, String)*): DataFrame =
    rows.zipWithIndex.map { case ((blk, v), i) => (i.toLong, blk, v) }
      .toDF("row_id", "blk", "name")

  /** What the batch operator assigns each distinct (block, value) of
    * the given corpus — the store's ground truth. */
  private def batchLabels(corpus: DataFrame): Set[(String, String, String)] =
    Dedup.resolveEntities(corpus, "name", Seq("blk"), maxDist = 1)
      .select("blk", "name", "canonical_name").distinct()
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet

  private def storeLabels(dir: String): Set[(String, String, String)] =
    LinkageStore.labels(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet

  private def withDir(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("linkage-store").toString
    try body(dir)
    finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
      spark.catalog.clearCache()
    }
  }

  // standing corpus: group A {carl, karl} (label carl), group B
  // {karim, karin} (label karim), a singleton, and a same-string value
  // in ANOTHER block (blocking boundary: never merges across blocks)
  private val standing = df(
    ("b1", "carl"), ("b1", "karl"), ("b1", "karim"), ("b1", "karin"),
    ("b1", "unique-xyz"), ("b2", "carl"))

  test("append merges standing groups through a bridge and flips canonicals — exactly the batch answer") {
    withDir { dir =>
      LinkageStore.init(standing, dir, "name", Seq("blk"), maxDist = 1)
      assert(storeLabels(dir) === batchLabels(standing))
      // batch 1: "kari" bridges A and B (dist 1 to karl AND karin) →
      // one merged group, canonical carl; "zeta0"+"zeta1" a new group
      val b1 = df(("b1", "kari"), ("b1", "zeta1"), ("b1", "zeta2"))
      val v1 = LinkageStore.append(spark, dir, b1, expectedBase = 0L)
      assert(v1 === 1L)
      assert(storeLabels(dir) === batchLabels(standing.unionByName(b1)))
      assert(storeLabels(dir).filter(_._1 == "b1").collect {
        case (_, v, l) if Set("carl", "karl", "karim", "karin", "kari")(v) => l
      } === Set("carl"), "the bridge must merge both standing groups")
      // batch 2: "zeta0" is a NEW lexicographic min for the zeta group —
      // the standing members must relabel to it
      val b2 = df(("b1", "zeta0"))
      val v2 = LinkageStore.append(spark, dir, b2, expectedBase = v1)
      val all = standing.unionByName(b1).unionByName(b2)
      assert(storeLabels(dir) === batchLabels(all))
      assert(storeLabels(dir).contains(("b1", "zeta2", "zeta0")))
      // blocking boundary held throughout: b2's carl stays its own label
      assert(storeLabels(dir).contains(("b2", "carl", "carl")))
    }
  }

  test("re-sending an already-folded batch is a content-level no-op") {
    withDir { dir =>
      LinkageStore.init(standing, dir, "name", Seq("blk"), maxDist = 1)
      val b1 = df(("b1", "kari"))
      val v1 = LinkageStore.append(spark, dir, b1, expectedBase = 0L)
      val before = storeLabels(dir)
      // the replayed batch carries no new values: no version is written
      assert(LinkageStore.append(spark, dir, b1, expectedBase = v1) === v1)
      assert(storeLabels(dir) === before)
      // a stale base (concurrent maintainer / crashed replay) refuses
      val msg = intercept[IllegalArgumentException](
        LinkageStore.append(spark, dir, df(("b1", "new1")), expectedBase = 0L))
        .getMessage
      assert(msg.contains("expected base"), msg)
    }
  }

  test("removal splits bridged groups and renames on canonical loss — exactly the fresh-build answer") {
    withDir { dir =>
      val b1 = df(("b1", "kari"))
      val all = standing.unionByName(b1)
      LinkageStore.init(all, dir, "name", Seq("blk"), maxDist = 1)
      // remove the BRIDGE: the merged group must split back into A and B
      val v1 = LinkageStore.remove(spark, dir,
        Seq(("b1", "kari")).toDF("blk", "name"), expectedBase = 0L)
      val minusBridge = all.where(!(col("blk") === "b1" && col("name") === "kari"))
      assert(storeLabels(dir) === batchLabels(minusBridge))
      // remove the CANONICAL of group A: karl survives under its own name
      val v2 = LinkageStore.remove(spark, dir,
        Seq(("b1", "carl")).toDF("blk", "name"), expectedBase = v1)
      val minusBoth = minusBridge.where(!(col("blk") === "b1" && col("name") === "carl"))
      assert(storeLabels(dir) === batchLabels(minusBoth))
      assert(storeLabels(dir).contains(("b1", "karl", "karl")))
      // removing a value the store never held is a no-op, not a version
      assert(LinkageStore.remove(spark, dir,
        Seq(("b1", "never-there")).toDF("blk", "name"), expectedBase = v2) === v2)
      // re-append the withdrawn bridge: full equivalence returns (the
      // store supports re-ingest before any compact)
      LinkageStore.append(spark, dir, b1, expectedBase = v2)
      assert(storeLabels(dir) === batchLabels(
        minusBoth.unionByName(b1)))
    }
  }

  test("compact folds the chain to one full version with identical labels; prune reclaims") {
    withDir { dir =>
      LinkageStore.init(standing, dir, "name", Seq("blk"), maxDist = 1)
      LinkageStore.append(spark, dir, df(("b1", "kari")), expectedBase = 0L)
      LinkageStore.remove(spark, dir,
        Seq(("b1", "karin")).toDF("blk", "name"), expectedBase = 1L)
      val before = storeLabels(dir)
      assert(LinkageStore.chainLength(spark, dir) === 3)
      val v = LinkageStore.compact(spark, dir)
      assert(v === 3L)
      assert(LinkageStore.chainLength(spark, dir) === 1)
      // a pinned version reports its own chain, like the other stores
      assert(LinkageStore.chainLength(spark, dir, Some(1L)) === 2)
      assert(LinkageStore.chainLength(spark, dir, Some(2L)) === 3)
      assert(storeLabels(dir) === before)
      // compact is idempotent on a full head
      assert(LinkageStore.compact(spark, dir) === v)
      LinkageStore.prune(spark, dir, keepFrom = v)
      assert(storeLabels(dir) === before)
      // a pruned pin and an uninitialized store fail by name, not 0
      val pruned = intercept[IllegalArgumentException](
        LinkageStore.chainLength(spark, dir, Some(1L))).getMessage
      assert(pruned.contains("no committed version v=1"), pruned)
      val uninit = intercept[IllegalArgumentException](
        LinkageStore.chainLength(spark, s"$dir-none")).getMessage
      assert(uninit.contains("linkage store") &&
        uninit.contains("no committed version"), uninit)
      // post-compact appends still answer the batch truth (the folded
      // edge state carries live pairs only)
      val b = df(("b1", "karla"))
      LinkageStore.append(spark, dir, b, expectedBase = v)
      val live = standing.unionByName(df(("b1", "kari")))
        .where(!(col("blk") === "b1" && col("name") === "karin"))
        .unionByName(b)
      assert(storeLabels(dir) === batchLabels(live))
    }
  }

  test("resolveRows matches resolveEntities row-for-row, null values pass through") {
    withDir { dir =>
      LinkageStore.init(standing, dir, "name", Seq("blk"), maxDist = 1)
      LinkageStore.append(spark, dir, df(("b1", "kari")), expectedBase = 0L)
      val corpus = standing.unionByName(df(("b1", "kari")))
      val withNull = corpus.unionByName(
        Seq((99L, "b1", null.asInstanceOf[String])).toDF("row_id", "blk", "name"))
      val got = LinkageStore.resolveRows(spark, dir, withNull)
        .select("row_id", "blk", "name", "canonical_name")
        .collect().map(r => (r.getLong(0), r.getString(1),
          Option(r.getString(2)), Option(r.getString(3)))).toSet
      val want = Dedup.resolveEntities(withNull, "name", Seq("blk"), maxDist = 1)
        .select("row_id", "blk", "name", "canonical_name")
        .collect().map(r => (r.getLong(0), r.getString(1),
          Option(r.getString(2)), Option(r.getString(3)))).toSet
      assert(got === want)
      assert(got.exists { case (id, _, v, c) => id == 99L && v.isEmpty && c.isEmpty })
      // a frame without the persisted columns fails by name
      val msg = intercept[IllegalArgumentException](
        LinkageStore.resolveRows(spark, dir, Seq(1L).toDF("row_id")))
        .getMessage
      assert(msg.contains("missing column"), msg)
    }
  }
}
