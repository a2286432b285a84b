package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.ReentrantLock

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Engine
import graft.ops.Incremental
import graft.pipe.{ExternalPipeline, PipeConfig}

/** Load generator and measurement harness for one workload in one JVM.
  *
  *   Main <workload> <inputs dir> <run dir> <seconds> <trace 0|1> <set-ups>
  *
  * Drives the program only through its public entry points and writes
  * everything it measured, plus what the output checks need, to
  * `<run dir>/result.json`. perfbench/run.py turns that into metrics.
  */
object Main {
  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  final case class Op(id: String, kind: String, due: Double, start: Double, end: Double,
      ok: Boolean, docs: Long, bytes: Long, rows: Seq[Seq[Any]])

  final class Run(val workload: String, val inputs: Path, val dir: Path,
      val seconds: Double, val trace: Boolean, val setups: Int) {
    val cores: Int = Runtime.getRuntime.availableProcessors()
    @volatile var spark: SparkSession = _
    val tracer = new Tracer(trace, () => Option(spark).map(_.sparkContext).orNull)
    @volatile var recorder = new Recorder
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val extra = mutable.LinkedHashMap.empty[String, Any]
    val setupS = mutable.ArrayBuffer.empty[Double]
    @volatile var windowStart = 0.0
    @volatile var windowEnd = 0.0

    def session(): SparkSession = {
      spark = Engine.session(parallelism = cores, appName = s"perfbench-$workload")
      if (trace) {
        recorder = new Recorder
        spark.sparkContext.addSparkListener(recorder)
        spark.streams.addListener(recorder.streams)
      }
      spark
    }

    def stopSession(): Unit = {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }

    /** Time `body` as op `id`; a throwable fails the op, not the run. */
    def op(id: String, kind: String, due: Double = 0.0)(body: => (Long, Long, Seq[Seq[Any]])): Op = {
      val start = Clock.now()
      val (ok, (docs, bytes, rows)) =
        try (true, tracer.span(kind, op = id, parent = (0, id))(body))
        catch { case e: Throwable =>
          Console.err.println(s"[perfbench] op $id failed: $e"); (false, (0L, 0L, Seq.empty))
        }
      val o = Op(id, kind, if (due == 0.0) start else due, start, Clock.now(), ok, docs, bytes, rows)
      ops.add(o)
      o
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 6, "usage: Main <workload> <inputs> <run dir> <seconds> <trace> <set-ups>")
    val run = new Run(args(0), Paths.get(args(1)), Paths.get(args(2)), args(3).toDouble,
      args(4) == "1", args(5).toInt)
    args(0) match {
      case "ingest_stream" => ingestStream(run)
      case "pipe_cranker" => pipeCranker(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    writeResult(run)
    run.stopSession()
  }

  /** Repeat the workload's set-up `run.setups` times, each in a fresh
    * session; the last one stays up for the measured window. */
  private def setUp[T](run: Run)(body: SparkSession => T): T = {
    var last: Option[T] = None
    (1 to run.setups).foreach { i =>
      if (i > 1) { run.stopSession(); run.spark = null }
      val t0 = Clock.now()
      last = Some(run.tracer.span("setup", op = s"setup$i", parent = (0, s"setup$i"))(
        body(run.session())))
      run.setupS += Clock.now() - t0
    }
    last.get
  }

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case null => null
      case v: java.lang.Number => v
      case v => v.toString
    })

  // ---------------------------------------------------------------- pipe_cranker

  /** The stand-in CRANKER commands: read copies the staged input, solve
    * upper-cases it, write drops the header into result.txt. Each logs
    * its own start and end, so forks and child time are measured. */
  private def writePipeBin(dir: Path, log: Path): Unit = {
    Files.createDirectories(dir)
    def sh(name: String, tag: String, cmd: String): Unit = {
      val p = dir.resolve(name)
      Files.writeString(p,
        s"""#!/bin/bash
           |s=$$EPOCHREALTIME
           |$cmd
           |r=$$?
           |echo "$tag $$s $$EPOCHREALTIME $$r" >> '$log'
           |exit $$r
           |""".stripMargin)
      p.toFile.setExecutable(true): Unit
    }
    sh("run_read.sh", "read", """cp "$2" "$3"""")
    sh("run_solve.sh", "solve", """tr a-z A-Z < "$2" > "$3"""")
    sh("run_write.sh", "write", """tail -n +2 "$3" > result.txt""")
  }

  private val PipeWarmupJobs = 12

  /** Closed loop, one client: each op parses the job config and runs
    * the map-only scatter → external pipe → gather job over the seeded
    * text files, reducing the gathered lines to a count and checksum. */
  private def pipeCranker(run: Run): Unit = {
    val bin = run.dir.resolve("pipe_bin")
    val log = run.dir.resolve("pipe_children.log")
    val stage = run.dir.resolve("pipe_stage")
    val input = run.inputs.resolve("pipe")
    writePipeBin(bin, log)
    Files.createDirectories(stage)
    val config =
      s"""{"stage_dir": "$stage", "mcr_root": "${run.dir}", "mcr_cache_root": "${run.dir}",
         | "algorithms": [{"name": "CRANKER", "binary_dir": "$bin",
         |   "executables": [
         |     {"command": "run_read.sh %MCR_ROOT% %INPUT_FILE% %TMP_MAT_FILE_1%"},
         |     {"command": "run_solve.sh %MCR_ROOT% %TMP_MAT_FILE_1% %TMP_MAT_FILE_2%"},
         |     {"command": "run_write.sh %MCR_ROOT% %TMP_MAT_FILE_1% %TMP_MAT_FILE_2%"}],
         |   "hdfs_in_dir": "$input", "hdfs_out_dir": ""}]}""".stripMargin
    val files = Files.list(input).iterator().asScala.toSeq
    val stagedBytes = files.map(Files.size).sum
    val lines = files.map(f => Files.lines(f).count()).sum
    def job(s: SparkSession): Seq[Seq[Any]] = {
      val cfg = run.tracer.span("PipeConfig.parse") { PipeConfig.parse(config) }
      val out = run.tracer.span("ExternalPipeline.runJob") {
        ExternalPipeline.runJob(s, cfg, "CRANKER", Some("doc_id\ttext"))
      }
      run.tracer.span("gather") {
        rowsOf(out.filter(col("file") === "result.txt")
          .agg(count(lit(1)).as("n_lines"),
            sum(length(col("line"))).cast("long").as("n_chars"),
            sum(conv(substring(md5(col("line")), 1, 8), 16, 10).cast("long")).as("checksum")))
      }
    }
    setUp(run)(job)
    // untimed: the JVM-side staging and gather code takes about 15 jobs
    // to reach steady speed, and a long-running job server is that warm
    (1 to PipeWarmupJobs).foreach(_ => job(run.spark))
    Files.deleteIfExists(log)
    run.windowStart = Clock.now()
    val deadline = run.windowStart + run.seconds
    var i = 0
    while (Clock.now() < deadline || i == 0) {
      run.op(s"pipe$i", "pipe") { (lines, stagedBytes, job(run.spark)) }
      i += 1
    }
    run.windowEnd = Clock.now()
    run.extra("pipe_log") = log.toString
    run.extra("pipe_stage") = stage.toString
  }

  // ---------------------------------------------------------------- ingest_stream

  /** Arrival spacing floor: one admission takes 8-11 s at 4 cores (~75
    * jobs; the one beside compaction is the slower), and up to twice that
    * while other tenants load the shared machine. Files arriving faster
    * would queue, and queueing would amplify that noise into the
    * freshness figure instead of measuring it at a sustainable rate. */
  private val MinArrivalInterval = 20.0

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    }

  private def pathOf(uri: String): Path =
    if (uri.startsWith("file:")) Paths.get(new java.net.URI(uri)) else Paths.get(uri)

  /** Open loop: one generator thread drops one arrival file per
    * interval into a watched directory, on schedule whatever the stream
    * does. The stream (one file per micro-batch, so membership is
    * deterministic) resolves the store catalog and admits each batch
    * against the maintained stores. Halfway through, between two
    * batches, a takedown lands; compaction of the then-current generation
    * starts with the next batch and runs on its own thread while the
    * stream keeps admitting into the old one. Tombstones stay in force to
    * the end.
    *
    * Compaction reads a copy of the generation taken between batches,
    * because a concurrent append would otherwise land in the old
    * generation only, or half in the new one. Batches admitted while it
    * runs are re-admitted into the new generation, and each re-admission
    * must reproduce the stream's census row for that batch. The publish
    * waits, under the stream's lock, until no admitted batch is left to
    * re-admit. */
  private def ingestStream(run: Run): Unit = {
    val in = run.inputs.resolve("ingest")
    val docsPath = in.resolve("documents.parquet").toString
    val arrivals = Files.list(in.resolve("arrivals")).iterator().asScala.toSeq.sortBy(_.toString)
    val nb = arrivals.size
    val mid = nb / 2
    val interval = math.max(run.seconds / nb, MinArrivalInterval)
    val cat = run.dir.resolve("catalog").resolve("stores.catalog").toString
    val tombDir = run.dir.resolve("tomb").toString
    Files.createDirectories(run.dir.resolve("catalog"))

    def corpusOf(s: SparkSession): DataFrame =
      Incremental.plantedDocs(s, in.toString).filter(col("doc_id") % 11 =!= 5)
    def planted(df: DataFrame): DataFrame =
      df.select(col("doc_id"), expr(Incremental.plantSqlForProbe).as("t"))
    def tombOf(s: SparkSession): DataFrame = s.read.schema("doc_id LONG").parquet(tombDir)

    val gen1 = setUp(run) { s =>
      val corpus = corpusOf(s)
      val stores = run.tracer.span("Incremental.initOwnedStores") {
        Incremental.initOwnedStores(s, corpus, "ingest")
      }
      run.tracer.span("catalog.commit") {
        Incremental.publishStoreCatalog(cat, stores._1, stores._2, stores._3)
      }
      corpus.select(col("doc_id")).limit(0).write.mode("overwrite").parquet(tombDir)
      // warm-up admission of docs the stores already hold: each is an
      // exact duplicate, so it admits nothing and the stores stay as the
      // oracle expects them
      val (row, _) = run.tracer.span("Incremental.admitBatch") {
        Incremental.admitBatch(s, corpus.filter(col("doc_id") % 20 === 0), "batch", -1L,
          stores._1, stores._2, stores._3, owned = true, tomb = Some(tombOf(s)))
      }
      val admitted = row.select("n_admitted").head().getLong(0)
      require(admitted == 0L, s"warm-up admission admitted $admitted docs")
      stores
    }
    val s = run.spark
    val watched = run.dir.resolve("watched")
    Files.createDirectories(watched)
    val lock = new ReentrantLock()
    val committed = new AtomicInteger(0)
    val census = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Any]]()
    val dropped = Array.fill(nb)(0.0)
    val started = Array.fill(nb)(0.0)
    val backlog = new AtomicInteger(0)
    val backlogMax = new AtomicInteger(0)
    @volatile var compactor: Thread = null
    var snap: (String, String, String) = null
    val generations = mutable.ArrayBuffer[(String, String, String)](gen1)

    def admit(k: Int, batch: DataFrame, stores: (String, String, String)): Seq[Any] = {
      val (row, _) = run.tracer.span("Incremental.admitBatch") {
        Incremental.admitBatch(s, planted(batch), "batch", k.toLong,
          stores._1, stores._2, stores._3, owned = true, tomb = Some(tombOf(s)))
      }
      run.tracer.span("census.collect") { rowsOf(row).head }
    }

    // ---- compaction on its own thread, from a snapshot taken between batches
    def snapshot(): (String, String, String) =
      run.tracer.span("snapshot") {
        val (idx, ex, sh) = Incremental.resolveStoreCatalog(cat)
        val root = Files.createDirectories(run.dir.resolve("snapshot"))
        copyTree(Paths.get(ex), root.resolve("exact"))
        copyTree(Paths.get(sh), root.resolve("shingles"))
        val h = Incremental.exportHandle(s, idx)
        copyTree(pathOf(h.path), root.resolve("band_index"))
        val name = Incremental.registerHandle(s,
          h.copy(name = s"${idx}_snap", path = root.resolve("band_index").toString))
        (name, root.resolve("exact").toString, root.resolve("shingles").toString)
      }

    def startCompaction(snap: (String, String, String)): Unit = {
      compactor = new Thread(() => {
        run.op("compaction", "compaction") {
          val gen2 = run.tracer.span("Incremental.compactStores") {
            Incremental.compactStores(s, snap._1, snap._2, snap._3, tombOf(s), "ingestc")
          }
          var next = mid
          def catchUp(upTo: Int): Unit = while (next < upTo) {
            val k = next
            run.tracer.span("readmit") {
              val row = admit(k, s.read.schema(DocSchema).parquet(
                watched.resolve(f"$k%04d.parquet").toString), gen2)
              if (row != census.get(k))
                throw new IllegalStateException(
                  s"re-admission of batch $k gave $row, the stream gave ${census.get(k)}")
            }
            next += 1
          }
          // re-admit outside the lock; publish only once nothing is left
          // to re-admit, holding the lock so no batch starts meanwhile
          var published = false
          while (!published) {
            catchUp(committed.get())
            lock.lock()
            try {
              if (next == committed.get()) {
                run.tracer.span("catalog.commit") {
                  Incremental.publishStoreCatalog(cat, gen2._1, gen2._2, gen2._3)
                }
                generations += gen2
                published = true
              }
            } finally lock.unlock()
          }
          (0L, 0L, Seq.empty)
        }
      }, "perfbench-compaction")
      compactor.setDaemon(true)
      compactor.start()
    }

    def handleBatch(batch: Dataset[Row]): Unit = {
      lock.lock()
      try {
        val k = committed.get()
        started(k) = Clock.now()
        // compaction starts with the first batch after the takedown, so
        // it runs while that batch is admitted into the old generation
        if (k == mid && snap != null) startCompaction(snap)
        val o = run.op(f"batch$k%04d", "batch", due = run.windowStart + k * interval) {
          val stores = run.tracer.span("catalog.resolve") { Incremental.resolveStoreCatalog(cat) }
          val row = admit(k, batch.toDF(), stores)
          census.put(k, row)
          (row(1).asInstanceOf[Number].longValue, 0L, Seq(row))
        }
        committed.incrementAndGet()
        backlog.decrementAndGet()
        if (o.ok && k == mid - 1) run.op("takedown", "takedown") {
          run.tracer.span("tomb.write") {
            corpusOf(s).filter(Incremental.removedPred).select("doc_id")
              .write.mode("overwrite").parquet(tombDir)
          }
          snap = snapshot()
          (0L, 0L, Seq.empty)
        }
      } finally lock.unlock()
    }

    val query = s.readStream.schema(DocSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(watched.toString)
      .writeStream
      .option("checkpointLocation", run.dir.resolve("checkpoint").toString)
      .foreachBatch { (batch: Dataset[Row], _: Long) => handleBatch(batch) }
      .start()

    // ---- the generator: one file per interval, on schedule
    run.windowStart = Clock.now()
    var lag = 0.0
    arrivals.zipWithIndex.foreach { case (f, k) =>
      val due = run.windowStart + k * interval
      val wait = due - Clock.now()
      if (wait > 0) Thread.sleep((wait * 1000).toLong)
      val tmp = watched.resolve(s".$k.tmp")
      Files.copy(f, tmp)
      Files.move(tmp, watched.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
      dropped(k) = Clock.now()
      lag = math.max(lag, dropped(k) - due)
      backlogMax.accumulateAndGet(backlog.incrementAndGet(), math.max)
    }
    val limit = Clock.now() + 120
    while (committed.get() < nb && Clock.now() < limit && query.exception.isEmpty)
      Thread.sleep(20)
    if (compactor != null) compactor.join(math.max(1L, ((limit - Clock.now()) * 1000).toLong))
    run.windowEnd = Clock.now()
    query.stop()
    query.exception.foreach(e => Console.err.println(s"[perfbench] stream failed: $e"))

    run.extra("batches") = nb
    run.extra("committed") = committed.get()
    run.extra("gen_lag_max_s") = lag
    run.extra("backlog_max") = backlogMax.get()
    run.extra("queue_s") = (0 until committed.get()).map(k => started(k) - dropped(k))
    run.extra("oracle_sql") = Incremental.replayOracleTomb("batch", nb,
      k => s"(doc_id // 11) % $nb = $k", mid)
    // store footprint, measured here because the store directories are
    // removed when the JVM exits
    def files(dirs: Seq[String]): Seq[Path] = dirs.flatMap(d =>
      Files.walk(Paths.get(d)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq)
    val genDirs = generations.toSeq.map { case (idx, ex, sh) =>
      Seq(pathOf(Incremental.exportHandle(s, idx).path).toString, ex, sh)
    }
    val written = files(genDirs.flatten :+ tombDir :+ run.dir.resolve("catalog").toString)
    val live = Incremental.resolveStoreCatalog(cat)
    val liveDocs = s.read.parquet(live._2).select("doc_id").distinct()
      .join(tombOf(s), Seq("doc_id"), "left_anti")
      .join(s.read.parquet(docsPath), Seq("doc_id"))
      .agg(sum(col("n_chars"))).head()
    run.extra("published") = generations.size == 2
    run.extra("store_bytes") = written.map(Files.size).sum
    run.extra("store_files_written") = written.size
    run.extra("store_files_live") = files(genDirs.last).size
    run.extra("live_bytes") = liveDocs.getLong(0)
  }

  // ---------------------------------------------------------------- result

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  private def writeResult(run: Run): Unit = {
    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> run.workload,
      "cores" -> run.cores,
      "setup_s" -> run.setupS.toSeq,
      "window" -> Seq(run.windowStart, run.windowEnd),
      "peak_rss_mb" -> peakRssMb(),
      "ops" -> run.ops.asScala.toSeq.sortBy(_.start).map(o => Map(
        "id" -> o.id, "kind" -> o.kind, "due" -> o.due, "start" -> o.start,
        "end" -> o.end, "ok" -> o.ok, "docs" -> o.docs, "bytes" -> o.bytes, "rows" -> o.rows)))
    res ++= run.extra
    if (run.trace) {
      res("spans") = run.tracer.records
      res("jobs") = run.recorder.jobRecords
      res("stages") = run.recorder.stageRecords
      res("progress") = run.recorder.progressRecords
    }
    Files.writeString(run.dir.resolve("result.json"), Json.render(res))
  }
}
