package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{BucketSpec, CatalogTable}
import org.apache.spark.sql.functions.col

/** The one writer of bucketed tables. Every maintained store (band
  * index, IVF, IVF-PQ, posting store, the src06 fixture tables) keeps
  * its generations as parquet tables bucketed and sorted on one probe
  * key, so probes read the index side with no exchange. This module owns
  * that layout decision — how a generation is sized, named, written,
  * appended and rewritten — and the store families keep only their row
  * projection.
  *
  * Lifecycle shape: a first write sizes the layout from the data
  * ([[scaleBuckets]]); an append always lands at the STORED spec (Spark
  * refuses a mismatched bucketBy, and a migration may have grown the
  * count); compaction, migration and clone are one operation — a
  * `distinct` rewrite of the current table into a NEW generation, so a
  * crash mid-rewrite leaves the old one untouched and crash-retry
  * residue collapses. */
object BucketedStore {

  /** A store generation: its metastore table and the external path of
    * its files. */
  final case class Generation(table: String, path: String)

  /** A fresh generation table name `graft_<tag>_<unique>` — the prefix
    * `Incremental.gcOrphanTables` sweeps by. */
  def tableName(tag: String): String = s"graft_${tag}_" + graft.Scratch.nameTag()

  /** A fresh generation named by [[tableName]], its files under `leaf`
    * in `dir` — a caller-owned durable location for a generation that
    * must outlive this JVM's scratch — or else in scratch. */
  def newGeneration(tag: String, leaf: String, dir: Option[String] = None): Generation =
    Generation(tableName(tag), dir.getOrElse(graft.Scratch.dir(s"graft_$tag")) + "/" + leaf)

  /** Cluster a store write by its bucket key before the bucketed write.
    * Spark's bucketed writer opens one file per (task, bucket-present-
    * in-task): an N-task input fans out up to N × nBuckets files —
    * measured 1026 files for a ~1 MB posting store at sf0.1, and at
    * 100 TB the same shape is (10k tasks × buckets) of tiny files that
    * every probe must list and open (guide §6: compact on write). A
    * repartition on the bucket key is the writer-side exchange that
    * makes each task hold exactly one bucket → exactly nBuckets files
    * per write. Parallelism is not lost at scale: the bucket count IS
    * the corpus-sized scale lever here (d64/d73 migrations grow it with
    * the data, [[scaleBuckets]] sizes first writes from the input), so
    * write parallelism grows with the layout. */
  private[graft] def clusterForBuckets(df: DataFrame, nBuckets: Int,
      key: String): DataFrame =
    df.repartition(nBuckets, col(key))

  /** A stored generation's catalog entry and bucket spec, resolved from
    * its metadata — zero jobs, zero scans. Fails loudly on a table that
    * is not a bucketed store. */
  private[graft] def stored(s: SparkSession, table: String): (CatalogTable, BucketSpec) = {
    val meta = s.sessionState.catalog.getTableMetadata(TableIdentifier(table))
    (meta, meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$table is not a bucketed store — no bucket spec to resolve")))
  }

  /** Bucket count of a stored generation. Maintenance writers must
    * match it exactly, so they resolve it here instead of assuming the
    * seed count: after a d64/d73-style migration grew the layout,
    * appends and compactions ride the grown count automatically. */
  private[graft] def bucketCountOf(s: SparkSession, table: String): Int =
    stored(s, table)._2.numBuckets

  /** Scale-adaptive bucket count for a store's FIRST write: the d73
    * 8·2^k ladder over the SOURCE row count of the writer's input, read
    * from the parquet footers on the driver (`Dedup.footerRowCount` —
    * pure metadata, zero Spark jobs). `graft.store.rowsPerBucket`
    * (default 16384) budgets those source rows per bucket, not the rows
    * the store writes: for the posting store they are documents, not
    * posting rows, and for the band index the corpus documents its band
    * keys came from. The default keeps every fixture SF at the seed-8
    * layout (bench-comparable) while the 100× scale probes derive a
    * grown count; a deployment sets it to its executor scan budget.
    * Under [[clusterForBuckets]] each write task materializes and sorts
    * one whole bucket, so a fixed seed count would cap write parallelism
    * AND per-task memory at corpus scale. Bounded at 1024 like the d73
    * ladder; a non-parquet input (in-memory fixture frames) falls back
    * to the seed count. Bucket count is PHYSICAL layout only — probe
    * results are invariant, which is what makes this a safe
    * derivation. */
  private[graft] def scaleBuckets(df: DataFrame, seed: Int = 8): Int = {
    val budget = df.sparkSession.conf
      .getOption("graft.store.rowsPerBucket").map(_.toLong).getOrElse(16384L)
    graft.ops.Dedup.footerRowCount(df) match {
      case Some(rows) =>
        var b = seed
        while (b < 1024 && rows > budget * b) b *= 2
        b
      case None => seed
    }
  }

  /** Write `rows` as generation `gen`: `nBuckets` buckets on `key`,
    * sorted by it, one file per bucket. Overwrites. Returns the table. */
  def write(rows: DataFrame, key: String, nBuckets: Int, gen: Generation): String = {
    clusterForBuckets(rows, nBuckets, key)
      .write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, key).sortBy(key)
      .option("path", gen.path).saveAsTable(gen.table)
    gen.table
  }

  /** Append `rows` to a stored generation at ITS bucket spec — the
    * batch-sized maintenance write; the new files keep the layout the
    * exchange-free probe relies on. The write commits through the
    * FRAME's session — inside foreachBatch that is the cloned micro-
    * batch session, whose insert refreshes its OWN relation cache only —
    * so the table is refreshed through the caller's session `s` too
    * (measured: without it, an in-stream append was silently invisible
    * to the outer session's next probe). */
  def append(s: SparkSession, rows: DataFrame, table: String): Unit = {
    val spec = stored(s, table)._2
    val key = spec.bucketColumnNames.head
    clusterForBuckets(rows, spec.numBuckets, key)
      .write.mode("append").format("parquet")
      .bucketBy(spec.numBuckets, key).sortBy(key)
      .saveAsTable(table)
    s.catalog.refreshTable(table)
  }

  /** Rewrite a stored generation into the NEW generation `gen`: the
    * `distinct` of `transform` over the current table, bucketed on the
    * stored key at the stored count, or at `nBuckets` for a re-layout.
    * Compaction (anti-join the tombstones), migration (a new count) and
    * clone (union a batch) are all this rewrite. Returns the new
    * table. */
  def rewrite(s: SparkSession, table: String, gen: Generation,
      nBuckets: Option[Int] = None)(transform: DataFrame => DataFrame): String = {
    val spec = stored(s, table)._2
    write(transform(s.table(table)).distinct(), spec.bucketColumnNames.head,
      nBuckets.getOrElse(spec.numBuckets), gen)
  }
}
