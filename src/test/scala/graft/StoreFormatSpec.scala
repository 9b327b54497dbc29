package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{IvfIndexStore, LinkageStore, MinhashIndexStore, SemanticIndexStore}
import graft.sources.StatsIndex
import graft.streaming.AcceptedSink

/** Persisted-format pins for the four versioned stores and the accepted
  * archive. Each store runs one fixed init → append → remove → compact
  * over small in-memory frames (the archive: fold → remove → fold →
  * compact → migrate); for every version written, the spec pins the subframe
  * directory names, the meta parquet schema and values, and an
  * order-independent digest of each subframe's rows. A change to any of
  * them changes what an older engine (or a reader of the directories)
  * sees on disk, so it must be deliberate: update the expected lines
  * here in the same change. */
class StoreFormatSpec extends SparkSpec {
  import spark.implicits._

  private def withDir(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("store-format").toString
    try body(dir)
    finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
      spark.catalog.clearCache()
    }
  }

  private def docs(ids: Seq[Long]): DataFrame = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    ids.map { i =>
      val rnd = new scala.util.Random(i)
      (i, Seq.fill(10 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def vecs(ids: Seq[Long]): DataFrame =
    ids.map { i =>
      val rnd = new scala.util.Random(i * 7919L)
      (i, Array.fill(8)(rnd.nextInt(2001) / 1000.0f - 1.0f))
    }.toDF("doc_id", "embedding")

  /** Rows as canonical JSON (columns by name, `cell` as long so the
    * partition-inferred and plain layouts compare alike), sorted, then
    * hashed: the digest ignores row and file order. */
  private def digest(df: DataFrame): String = {
    val cols = df.columns.sorted.map {
      case "cell" => col("cell").cast("long").as("cell")
      case c => col(c)
    }
    val rows = df.select(to_json(struct(cols: _*))).collect().map(_.getString(0)).sorted
    f"rows=${rows.length} digest=${scala.util.hashing.MurmurHash3.orderedHash(rows.toSeq)}%08x"
  }

  /** The parquet footer schema of a one-file frame (field order,
    * physical types and repetition — what `spark.read` reports as
    * nullable either way). */
  private def parquetSchema(frameDir: java.io.File): String = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val part = frameDir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(part.length === 1)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(part.head.toURI),
      spark.sessionState.newHadoopConf()))
    try reader.getFooter.getFileMetaData.getSchema.getFields.toArray
      .map(_.toString).mkString(",")
    finally reader.close()
  }

  /** One line per pinned fact of every version under `dir`. */
  private def format(dir: String): Seq[String] = {
    val root = new java.io.File(dir)
    val versions = root.list().filter(_.startsWith("v=")).map(_.drop(2).toLong).sorted
    versions.toSeq.flatMap { v =>
      val vdir = new java.io.File(root, s"v=$v")
      val subs = vdir.list()
        .filter(n => !n.startsWith(".") && !n.startsWith("_")).sorted.toSeq
      val metaRow = spark.read.parquet(s"$dir/v=$v/meta").collect()
      assert(metaRow.length === 1)
      Seq(s"v=$v subframes=${subs.mkString(",")}",
        s"v=$v meta schema=${parquetSchema(new java.io.File(vdir, "meta"))}",
        s"v=$v meta values=${metaRow.head.toSeq.mkString(",")}") ++
        subs.filter(_ != "meta").map { s =>
          // stats rows name their data file, whose basename carries a
          // per-write UUID: everything else in the frame is pinned
          val frame = spark.read.parquet(s"$dir/v=$v/$s")
          s"v=$v $s ${digest(if (s == "stats") frame.drop(StatsIndex.FileCol) else frame)}"
        }
    }
  }

  private def check(store: String, dir: String, expected: Seq[String]): Unit = {
    val actual = format(dir)
    assert(actual === expected,
      s"$store persisted format changed; actual:\n${actual.mkString("\n")}")
  }

  test("minhash store: init, append, remove, compact pin their persisted format") {
    withDir { dir =>
      MinhashIndexStore.init(docs(1L to 16L), dir, "doc_id", "text",
        shingleK = 3, numBands = 8, rowsPerBand = 2)
      val batch = docs(17L to 22L).unionByName(
        docs(Seq(4L)).select(lit(104L).as("doc_id"), col("text")))
      MinhashIndexStore.append(spark, dir, batch, "doc_id", "text", 0L)
      MinhashIndexStore.remove(spark, dir, Seq(5L, 18L).toDF("doc_id"), "doc_id", 1L)
      MinhashIndexStore.compact(spark, dir)
      check("minhash store", dir, Seq(
        "v=0 subframes=bands,index,meta",
        "v=0 meta schema=required int32 shingle_k,required int32 num_bands,required int32 rows_per_band,required int32 max_group_size,required boolean full",
        "v=0 meta values=3,8,2,10000000,true",
        "v=0 bands rows=128 digest=88dc2b82",
        "v=0 index rows=16 digest=75601f94",
        "v=1 subframes=bands,index,meta",
        "v=1 meta schema=required int32 shingle_k,required int32 num_bands,required int32 rows_per_band,required int32 max_group_size,required boolean full",
        "v=1 meta values=3,8,2,10000000,false",
        "v=1 bands rows=56 digest=7bf223fe",
        "v=1 index rows=7 digest=49642998",
        "v=2 subframes=bands,index,meta,tombs",
        "v=2 meta schema=required int32 shingle_k,required int32 num_bands,required int32 rows_per_band,required int32 max_group_size,required boolean full",
        "v=2 meta values=3,8,2,10000000,false",
        "v=2 bands rows=0 digest=03f5d279",
        "v=2 index rows=0 digest=03f5d279",
        "v=2 tombs rows=2 digest=19d63af2",
        "v=3 subframes=bands,index,meta",
        "v=3 meta schema=required int32 shingle_k,required int32 num_bands,required int32 rows_per_band,required int32 max_group_size,required boolean full",
        "v=3 meta values=3,8,2,10000000,true",
        "v=3 bands rows=160 digest=5cd2a0e6",
        "v=3 index rows=20 digest=500944c4"))
    }
  }

  test("semantic store: init, append, remove, compact pin their persisted format") {
    withDir { dir =>
      val corpus = vecs(1L to 40L).unionByName(
        vecs(Seq(3L)).select(lit(103L).as("doc_id"), col("embedding")))
      SemanticIndexStore.init(corpus, dir, "doc_id", "embedding", nlist = 4)
      SemanticIndexStore.append(spark, dir, vecs(41L to 48L), "doc_id",
        "embedding", 0L)
      SemanticIndexStore.remove(spark, dir, Seq(7L, 44L).toDF("doc_id"),
        "doc_id", 1L)
      SemanticIndexStore.compact(spark, dir)
      check("semantic store", dir, Seq(
        "v=0 subframes=cells,centroids,meta",
        "v=0 meta schema=required int32 dim,required int32 nlist,required int32 max_group_size,required double assign_p50,required double assign_p99,required boolean full",
        "v=0 meta values=8,4,10000000,0.46555334251478053,0.9717095689457077,true",
        "v=0 cells rows=40 digest=85173e1d",
        "v=0 centroids rows=4 digest=5852f50c",
        "v=1 subframes=cells,centroids,meta",
        "v=1 meta schema=required int32 dim,required int32 nlist,required int32 max_group_size,required double assign_p50,required double assign_p99,required boolean full",
        "v=1 meta values=8,4,10000000,0.46555334251478053,0.9717095689457077,false",
        "v=1 cells rows=8 digest=b3477f38",
        "v=1 centroids rows=4 digest=5852f50c",
        "v=2 subframes=cells,centroids,meta,tombs",
        "v=2 meta schema=required int32 dim,required int32 nlist,required int32 max_group_size,required double assign_p50,required double assign_p99,required boolean full",
        "v=2 meta values=8,4,10000000,0.46555334251478053,0.9717095689457077,false",
        "v=2 cells rows=0 digest=03f5d279",
        "v=2 centroids rows=4 digest=5852f50c",
        "v=2 tombs rows=2 digest=7ca381f6",
        "v=3 subframes=cells,centroids,meta",
        "v=3 meta schema=required int32 dim,required int32 nlist,required int32 max_group_size,required double assign_p50,required double assign_p99,required boolean full",
        "v=3 meta values=8,4,10000000,0.46555334251478053,0.9717095689457077,true",
        "v=3 cells rows=46 digest=2dfeb5d8",
        "v=3 centroids rows=4 digest=5852f50c"))
    }
  }

  test("ivf store: init, append, remove, compact pin their persisted format") {
    withDir { dir =>
      IvfIndexStore.init(vecs(1L to 40L), dir, "doc_id", "embedding", nlist = 4)
      IvfIndexStore.append(spark, dir, vecs(41L to 48L), "doc_id", "embedding", 0L)
      IvfIndexStore.remove(spark, dir, Seq(7L, 44L).toDF("doc_id"), "doc_id", 1L)
      IvfIndexStore.compact(spark, dir)
      check("ivf store", dir, Seq(
        "v=0 subframes=cells,centroids,meta",
        "v=0 meta schema=required int32 dim,required int32 nlist,required double assign_p50,required double assign_p99,required boolean full",
        "v=0 meta values=8,4,0.46555334251478053,0.9717095689457077,true",
        "v=0 cells rows=40 digest=2a85b02e",
        "v=0 centroids rows=4 digest=5852f50c",
        "v=1 subframes=cells,centroids,meta",
        "v=1 meta schema=required int32 dim,required int32 nlist,required double assign_p50,required double assign_p99,required boolean full",
        "v=1 meta values=8,4,0.46555334251478053,0.9717095689457077,false",
        "v=1 cells rows=8 digest=b003af65",
        "v=1 centroids rows=4 digest=5852f50c",
        "v=2 subframes=cells,centroids,meta,tombs",
        "v=2 meta schema=required int32 dim,required int32 nlist,required double assign_p50,required double assign_p99,required boolean full",
        "v=2 meta values=8,4,0.46555334251478053,0.9717095689457077,false",
        "v=2 cells rows=0 digest=03f5d279",
        "v=2 centroids rows=4 digest=5852f50c",
        "v=2 tombs rows=2 digest=7ca381f6",
        "v=3 subframes=cells,centroids,meta",
        "v=3 meta schema=required int32 dim,required int32 nlist,required double assign_p50,required double assign_p99,required boolean full",
        "v=3 meta values=8,4,0.46555334251478053,0.9717095689457077,true",
        "v=3 cells rows=46 digest=f38cdb1c",
        "v=3 centroids rows=4 digest=5852f50c"))
    }
  }

  test("linkage store: init, append, remove, compact pin their persisted format") {
    withDir { dir =>
      val standing = Seq(("b1", "carl"), ("b1", "karl"), ("b1", "karim"),
        ("b1", "karin"), ("b1", "unique-xyz"), ("b2", "carl")).toDF("blk", "name")
      LinkageStore.init(standing, dir, "name", Seq("blk"), maxDist = 1)
      LinkageStore.append(spark, dir,
        Seq(("b1", "kari"), ("b1", "zeta1"), ("b1", "zeta2")).toDF("blk", "name"), 0L)
      LinkageStore.remove(spark, dir, Seq(("b1", "karl")).toDF("blk", "name"), 1L)
      LinkageStore.compact(spark, dir)
      check("linkage store", dir, Seq(
        "v=0 subframes=edges,labels,meta",
        "v=0 meta schema=optional binary value_col (STRING),optional binary block_cols (STRING),required int32 max_dist,required boolean full",
        "v=0 meta values=name,blk,1,true",
        "v=0 edges rows=2 digest=34999dc2",
        "v=0 labels rows=6 digest=72a03dd4",
        "v=1 subframes=edges,labels,meta",
        "v=1 meta schema=optional binary value_col (STRING),optional binary block_cols (STRING),required int32 max_dist,required boolean full",
        "v=1 meta values=name,blk,1,false",
        "v=1 edges rows=4 digest=2635edb1",
        "v=1 labels rows=5 digest=a689fe37",
        "v=2 subframes=edges,labels,meta",
        "v=2 meta schema=optional binary value_col (STRING),optional binary block_cols (STRING),required int32 max_dist,required boolean full",
        "v=2 meta values=name,blk,1,false",
        "v=2 edges rows=0 digest=03f5d279",
        "v=2 labels rows=5 digest=ff5cffa6",
        "v=3 subframes=edges,labels,meta",
        "v=3 meta schema=optional binary value_col (STRING),optional binary block_cols (STRING),required int32 max_dist,required boolean full",
        "v=3 meta values=name,blk,1,true",
        "v=3 edges rows=4 digest=70069cde",
        "v=3 labels rows=8 digest=18687368"))
    }
  }

  test("accepted archive: fold, remove, fold, compact, migrate pin their persisted format") {
    withDir { root =>
      val acc = s"$root/accepted"
      def batch(b: Long, ids: Seq[Long]): Unit =
        ids.map(i => (i, s"doc $i", if (i % 2 == 0) "web" else "book"))
          .toDF("doc_id", "text", "src").coalesce(1).write.parquet(s"$acc/batch=$b")
      val statsCols = Seq("doc_id", "batch")
      batch(0L, 1L to 4L)
      batch(1L, 5L to 7L)
      assert(AcceptedSink.fold(spark, acc, belowBatch = 2L, statsCols = statsCols) === Some(1L))
      batch(2L, 8L to 10L)
      // 3 sits in the archive, 9 in the live batch 2
      AcceptedSink.remove(spark, acc, Seq(3L, 9L).toDF("doc_id"), "doc_id")
      assert(AcceptedSink.fold(spark, acc, belowBatch = 3L) === Some(2L))
      assert(AcceptedSink.compactArchive(spark, acc, statsCols) === Some(3L))
      AcceptedSink.migrateArchive(spark, acc,
        _.withColumn("n_chars", length(col("text")).cast("long")))
      check("accepted archive", s"$acc/_archive", Seq(
        "v=0 subframes=data,meta,stats",
        "v=0 meta schema=required int64 max_folded_batch,required boolean full",
        "v=0 meta values=1,true",
        "v=0 data rows=7 digest=3afdf059",
        "v=0 stats rows=1 digest=fb8aa97f",
        "v=1 subframes=data,meta,tombs",
        "v=1 meta schema=required int64 max_folded_batch,required boolean full",
        "v=1 meta values=1,false",
        "v=1 data rows=0 digest=03f5d279",
        "v=1 tombs rows=2 digest=4f724f70",
        "v=2 subframes=data,meta",
        "v=2 meta schema=required int64 max_folded_batch,required boolean full",
        "v=2 meta values=2,false",
        "v=2 data rows=3 digest=9de9df87",
        "v=3 subframes=data,meta,stats",
        "v=3 meta schema=required int64 max_folded_batch,required boolean full",
        "v=3 meta values=2,true",
        "v=3 data rows=8 digest=a848d093",
        "v=3 stats rows=1 digest=aef433df",
        "v=4 subframes=data,meta,migration",
        "v=4 meta schema=required int64 max_folded_batch,required boolean full",
        "v=4 meta values=2,true",
        "v=4 data rows=8 digest=2e46294f",
        "v=4 migration rows=1 digest=ece9f3d7"))
    }
  }
}
