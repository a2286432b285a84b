package graft

import org.apache.spark.sql.functions._

/** The LIFECYCLE-family scaling datapoint (round-10 verdict item 6): the
  * d56–d59 bench walls conflate store INIT with the lifecycle operation
  * being priced. This probe separates the phases at sf0.01 and sf0.1
  * (10× documents) on both surfaces:
  *
  *  - document stores: init (initOwnedStores — the once-per-corpus
  *    rebuild-equivalent), probe_tomb (tombstone-filtered admission of
  *    the arrival batch — the steady-state ingest cost), compact (the
  *    offline d57 rewrite — expected ∝ store size), probe_post
  *    (unfiltered admission on the compacted generation);
  *  - IVF index: build (write over the base corpus), append (d60's
  *    batch-sized maintenance write — expected ∝ batch, NOT corpus),
  *    rebuild (full write over base ∪ batch — what append replaces),
  *    probe (top-3 against the appended index).
  *
  * Expected shape: probe and append walls ~flat in corpus size (their
  * inputs are the arrival batch; note the fixture's arrival split is a
  * fixed fraction, so "flat" here means growing with the BATCH, i.e.
  * ≤ the corpus ratio), compaction and init growing with the store.
  *
  * Run: sbt 'Test/runMain graft.ScaleProbeLifecycle'; the JSON line is
  * merged into BENCH_SCALE_r11.json and summarized in SURVEY §6/§8.
  */
object ScaleProbeLifecycle {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session(appName = "graft-scale-probe-lifecycle")
    import graft.ops.{Dedup, Incremental, Similarity}
    import graft.ops.Similarity.{norm2Q, quantize}
    graft.functions.LongDot.register(spark)
    graft.plans.TopKPerGroup.install(spark)

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    def docPhases(sf: String, tag: String): Map[String, Double] = {
      spark.catalog.clearCache(); System.gc()
      val docs = Incremental.plantedDocs(spark, sf)
      val corpus = docs.filter(col("doc_id") % 11 =!= 5)
      var handles: (String, String, String) = null
      val tInit = time { handles = Incremental.initOwnedStores(spark, corpus, tag) }
      val (idx, ex, sh) = handles
      val removed = Dedup.reuse(corpus.filter(Incremental.removedPred).select("doc_id"))
      val arr = docs.filter(col("doc_id") % 11 === 5)
        .select(col("doc_id"), col("t"), md5(col("t")).as("h"))
      val arrC = Dedup.reuse(arr)
      val (aB, aS) = Dedup.lshBucketsAndShingles(arrC, "doc_id", "t", 3, 4, 2)
      val exStore = spark.read.schema("doc_id LONG, h STRING").parquet(ex)
      val storeSh = spark.read.schema("id LONG, h LONG").parquet(sh)
      val tProbeTomb = time {
        Incremental.admitArrivals(arrC, aS, Dedup.probeBandIndex(spark, idx, aB),
          exStore, storeSh, Some(removed)).count(): Unit
      }
      var compacted: (String, String, String) = null
      val tCompact = time {
        compacted = Incremental.compactStores(spark, idx, ex, sh, removed, tag + "c")
      }
      val (cIdx, cEx, cSh) = compacted
      val tProbePost = time {
        Incremental.admitArrivals(arrC, aS, Dedup.probeBandIndex(spark, cIdx, aB),
          spark.read.schema("doc_id LONG, h STRING").parquet(cEx),
          spark.read.schema("id LONG, h LONG").parquet(cSh), None).count(): Unit
      }
      Map("init" -> tInit, "probe_tomb" -> tProbeTomb,
        "compact" -> tCompact, "probe_post" -> tProbePost)
    }

    def ivfPhases(sf: String, tag: String): Map[String, Double] = {
      spark.catalog.clearCache(); System.gc()
      val e = Tables.embeddings(spark, sf)
        .select(col("vec_id"), quantize(col("embedding")).as("v"))
        .withColumn("n2", norm2Q(col("v")))
      val assign = Dedup.reuse(Similarity.ivfAssign(e))
      val isDay1 = col("vec_id") % 7 === 3
      val isWave2 = col("vec_id") % 7 === 5
      var idx: String = null
      val tBuild = time {
        idx = Similarity.writeIvfIndex(spark, assign.filter(!isDay1 && !isWave2), tag)
      }
      val tAppend = time {
        Similarity.appendIvfIndex(spark, assign.filter(isDay1), idx)
      }
      val tRebuild = time {
        Similarity.writeIvfIndex(spark, assign.filter(!isWave2), tag + "r"): Unit
      }
      val probes = assign.filter(isWave2)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("n2").as("qn2"), col("cell").as("qcell"))
      val tProbe = time {
        Similarity.probeIvfTopK(spark, idx, probes, k = 3).count(): Unit
      }
      Map("build" -> tBuild, "append" -> tAppend,
        "rebuild" -> tRebuild, "probe" -> tProbe)
    }

    // r12 surfaces: the compressed IVF-PQ index (d63) — append expected
    // ∝ batch, probe ∝ arrival×cell (both ≤ corpus ratio), build/rebuild
    // ∝ corpus
    def pqPhases(sf: String, tag: String): Map[String, Double] = {
      spark.catalog.clearCache(); System.gc()
      graft.functions.LongL2.register(spark)
      val e = Tables.embeddings(spark, sf)
        .select(col("vec_id"), quantize(col("embedding")).as("v"))
        .withColumn("n2", norm2Q(col("v")))
      val assign = Dedup.reuse(Similarity.ivfAssign(e))
      val cb = Similarity.pqCodebook(e)
      val isDay1 = col("vec_id") % 7 === 3
      val isWave2 = col("vec_id") % 7 === 5
      val encAll = assign.withColumn("codes", Similarity.pqCodesCol(cb))
      var idx: String = null
      val tBuild = time {
        idx = Similarity.writeIvfPqIndex(spark, encAll.filter(!isDay1 && !isWave2), tag)
      }
      val tAppend = time {
        Similarity.appendIvfPqIndex(spark, encAll.filter(isDay1), idx)
      }
      val tRebuild = time {
        Similarity.writeIvfPqIndex(spark, encAll.filter(!isWave2), tag + "r"): Unit
      }
      val probes = assign.filter(isWave2)
        .select(col("vec_id").as("qid"), col("cell").as("qcell"),
          Similarity.pqLutCol(cb).as("lut"))
      val queryVecs = assign.filter(isWave2)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
      val corpus = e.select(col("vec_id").as("cid"), col("v").as("cv"),
        col("n2").as("cn2"))
      val tProbe = time {
        Similarity.probeIvfPqTopK(spark.table(idx), probes, queryVecs,
          corpus, kAdc = 10, k = 3).count(): Unit
      }
      Map("build" -> tBuild, "append" -> tAppend,
        "rebuild" -> tRebuild, "probe" -> tProbe)
    }

    // r12 surfaces: the maintained BM25 stores (t53) — append/delta ∝
    // batch, takedown ∝ store scan (amortizable), compact ∝ store
    def bm25Phases(sf: String, tag: String): Map[String, Double] = {
      spark.catalog.clearCache(); System.gc()
      import graft.ops.TextAnalysis
      import spark.implicits._
      val queryTerms = Seq("q01" -> "merge", "q01" -> "sort",
        "q02" -> "stream", "q02" -> "window", "q03" -> "customer", "q03" -> "value")
      val qt = queryTerms.toDF("query_id", "term")
      val vocab = queryTerms.map(_._2).distinct
      val docs = Tables.documents(spark, sf)
      val dfDir = graft.Scratch.dir(s"graft_${tag}_df")
      val statsDir = graft.Scratch.dir(s"graft_${tag}_st")
      val p0 = Dedup.reuse(TextAnalysis.postingsOf(docs.filter(col("doc_id") % 5 =!= 3)))
      var table: String = null
      val tInit = time {
        table = TextAnalysis.writePostingStore(spark, p0, tag)
        TextAnalysis.logStatDeltas(p0, dfDir, statsDir, 0, 1)
      }
      val p1 = Dedup.reuse(TextAnalysis.postingsOf(docs.filter(col("doc_id") % 5 === 3)))
      val tAppend = time {
        TextAnalysis.appendPostingStore(spark, p1, table)
        TextAnalysis.logStatDeltas(p1, dfDir, statsDir, 1, 1)
      }
      val tomb = docs.filter(col("doc_id") % 7 === 2).select("doc_id")
      val tTakedown = time {
        val removed = spark.table(table).join(broadcast(tomb), Seq("doc_id"))
          .select("term", "doc_id", "tf", "dl").distinct()
        TextAnalysis.logStatDeltas(removed, dfDir, statsDir, 2, -1)
      }
      var table2: String = null
      val tCompact = time {
        table2 = TextAnalysis.compactPostingStore(spark, table, tomb, tag + "c")
      }
      val tProbe = time {
        TextAnalysis.bm25Probe("p", spark.table(table2), qt, vocab,
          dfDir, statsDir, spark).count(): Unit
      }
      Map("init" -> tInit, "append" -> tAppend, "takedown" -> tTakedown,
        "compact" -> tCompact, "probe" -> tProbe)
    }

    // r12 surfaces: the d64 re-bucket migration — one bucketed rewrite,
    // expected ∝ store size
    def migratePhase(sf: String, tag: String): Map[String, Double] = {
      spark.catalog.clearCache(); System.gc()
      val docs = Tables.documents(spark, sf)
      val (buckets, _) = Dedup.lshBucketsAndShingles(docs, "doc_id", "text", 3, 4, 2)
      val t1 = s"graft_band_${tag}_" +
        graft.Scratch.dir(s"graft_band_$tag").replaceAll("[^A-Za-z0-9]", "_").takeRight(24)
      Dedup.writeBandIndex(spark, buckets, t1)
      val tMigrate = time {
        Dedup.migrateBandIndex(spark, t1, 32, tag): Unit
      }
      Map("migrate" -> tMigrate)
    }

    // JIT/codegen warm
    docPhases("/root/testdata/sf0.001", "splw"): Unit
    ivfPhases("/root/testdata/sf0.001", "ivf_splw"): Unit
    pqPhases("/root/testdata/sf0.001", "pq_splw"): Unit
    bm25Phases("/root/testdata/sf0.001", "bm_splw"): Unit
    migratePhase("/root/testdata/sf0.001", "mig_splw"): Unit

    val d1 = docPhases("/root/testdata/sf0.01", "spl1")
    val d10 = docPhases("/root/testdata/sf0.1", "spl10")
    val v1 = ivfPhases("/root/testdata/sf0.01", "ivf_spl1")
    val v10 = ivfPhases("/root/testdata/sf0.1", "ivf_spl10")
    val p1 = pqPhases("/root/testdata/sf0.01", "pq_spl1")
    val p10 = pqPhases("/root/testdata/sf0.1", "pq_spl10")
    val b1 = bm25Phases("/root/testdata/sf0.01", "bm_spl1")
    val b10 = bm25Phases("/root/testdata/sf0.1", "bm_spl10")
    val m1 = migratePhase("/root/testdata/sf0.01", "mig_spl1")
    val m10 = migratePhase("/root/testdata/sf0.1", "mig_spl10")

    def j(m1: Map[String, Double], m10: Map[String, Double]): String =
      m1.keys.toSeq.sorted.map { k =>
        f""""$k":{"sf001_sec":${m1(k)}%.2f,"sf01_sec":${m10(k)}%.2f,"ratio_10x":${m10(k) / m1(k)}%.2f}"""
      }.mkString(",")

    println(s"""{"metric":"scale_lifecycle_phases","docs":[500,5000],"vecs":[500,2000],""" +
      s""""doc_stores":{${j(d1, d10)}},"ivf_index":{${j(v1, v10)}},""" +
      s""""ivfpq_index":{${j(p1, p10)}},"bm25_stores":{${j(b1, b10)}},""" +
      s""""band_migration":{${j(m1, m10)}}}""")
    spark.stop()
  }
}
