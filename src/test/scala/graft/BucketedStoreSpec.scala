package graft

import graft.ops.{Dedup, Similarity}
import graft.store.BucketedStore
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The bucketed-store module: the one writer of bucketed tables, its
  * concurrent use under `Dedup.inParallel`, the append-at-stored-spec
  * contract, and the structural guard that keeps the layout decision
  * behind the module. */
class BucketedStoreSpec extends SparkTestBase {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** Bucket ids of a table's data files, read from the file names. */
  private def bucketIds(table: String): Seq[Int] =
    Option(new java.io.File(BucketedStore.stored(spark, table)._1.location).listFiles())
      .toSeq.flatten.map(_.getName).filter(_.endsWith(".parquet"))
      .flatMap(BucketingUtils.getBucketId)

  test("inParallel surfaces every failure: the first throwable carries " +
    "the other as suppressed") {
    val ex = intercept[RuntimeException] {
      Dedup.inParallel(
        () => throw new IllegalStateException("left failed"),
        () => throw new IllegalArgumentException("right failed"),
        () => ())
    }
    assert(ex.getSuppressed.length == 1,
      s"expected exactly one suppressed failure: ${ex.getSuppressed.toSeq}")
    assert((ex.getMessage +: ex.getSuppressed.toSeq.map(_.getMessage)).toSet ==
      Set("left failed", "right failed"))
  }

  test("three concurrent BucketedStore.writes in one session all land, " +
    "each with its own bucket count") {
    val df = (1L to 300L).map(i => (i, s"v$i")).toDF("k", "v").repartition(6)
    val gens = Seq(8, 16, 32).map(n =>
      BucketedStore.newGeneration(s"par$n", "rows") -> n)
    Dedup.inParallel(gens.map { case (g, n) =>
      () => BucketedStore.write(df, "k", n, g): Unit
    }: _*)
    gens.foreach { case (g, n) =>
      assert(BucketedStore.bucketCountOf(spark, g.table) == n, s"${g.table} spec")
      assert(spark.table(g.table).count() == 300L, s"${g.table} rows")
      val ids = bucketIds(g.table)
      assert(ids.nonEmpty && ids.forall(b => b >= 0 && b < n) && ids.size <= n,
        s"${g.table}: data files of buckets $ids for a $n-bucket spec")
    }
  }

  test("IVF append after a cell migration lands at the migrated spec: " +
    "write at 8, migrate to 16 cells, append with no count — the batch " +
    "lands in 16 buckets and a probe sees it") {
    graft.functions.LongDot.register(spark)
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("v"))
      .withColumn("n2", Similarity.norm2Q(col("v")))
    // ids < 16 are the migration's centroid seeds: keep them in the base
    val isBatch = col("vec_id") % 7 === 3 && col("vec_id") >= 16
    val isWave = col("vec_id") % 7 === 5 && col("vec_id") >= 16
    val gen1 = Similarity.writeIvfIndex(spark,
      Dedup.reuse(Similarity.ivfAssign(e)).filter(!isBatch && !isWave), "ivf_hole")
    val gen2 = Similarity.migrateIvfIndexCells(spark, gen1, 16, "ivf_hole_m")
    assert(BucketedStore.bucketCountOf(spark, gen2) == 16)

    val cents16 = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val before = bucketIds(gen2)
    Similarity.appendIvfIndex(spark,
      Similarity.ivfAssignAgainst(e.filter(isBatch), cents16), gen2)
    val added = bucketIds(gen2).diff(before)
    assert(BucketedStore.bucketCountOf(spark, gen2) == 16)
    assert(added.nonEmpty && added.forall(b => b >= 0 && b < 16) && added.exists(_ >= 8),
      s"the append did not land at the migrated 16-bucket spec: $added")

    // the probe sees the appended vectors, exactly as in a fresh 16-cell
    // build of base ∪ batch
    val rebuilt = Similarity.writeIvfIndex(spark,
      Similarity.ivfAssignAgainst(e.filter(!isWave), cents16), "ivf_hole_r",
      nBuckets = 16)
    val probes = Similarity.ivfAssignAgainst(e.filter(isWave), cents16)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2"), col("cell").as("qcell"))
    val viaAppend = Similarity.probeIvfTopK(spark, gen2, probes, k = 3)
    assert(viaAppend.filter(col("cid") % 7 === 3 && col("cid") >= 16).count() > 0,
      "no appended vector reached any top-3 — append-visibility untested")
    assert(rows(viaAppend) == rows(Similarity.probeIvfTopK(spark, rebuilt, probes, k = 3)),
      "probe-after-append diverged from a fresh 16-cell rebuild")
  }

  test("structural guard: saveAsTable( and bucketBy( appear in src/main " +
    "only under graft/store/") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"source root not found from ${new java.io.File(".").getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val files = walk(root)
    val (inStore, outside) = files.partition(_.getPath.contains("/graft/store/"))
    def hits(f: java.io.File): Seq[String] =
      java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq.zipWithIndex
        .collect { case (l, i) if l.contains("saveAsTable(") || l.contains("bucketBy(") =>
          s"${f.getPath}:${i + 1}: ${l.trim}" }
    // non-vacuous: the store module itself holds the writer
    assert(inStore.flatMap(hits).nonEmpty, "no bucketed writer found under graft/store/")
    val leaks = outside.flatMap(hits)
    assert(leaks.isEmpty,
      "bucketed-table writes outside graft/store/ — route them through " +
        "BucketedStore:\n" + leaks.mkString("\n"))
  }
}
