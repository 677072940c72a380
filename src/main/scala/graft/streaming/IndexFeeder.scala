package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, reverse}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.index.{BuiltIndex, IndexBuilder, IndexMerger, IndexPublisher}

/** Streaming ingestion feeder — the dcs-feeder / package-importer
  * analogue (reference `cmd/dcs-feeder/feeder.go`,
  * `cmd/dcs-package-importer/importer.go:146-199,319-390`): arriving
  * document batches each become a small self-contained index (the
  * per-package index), and a merge step ConcatN's all batch indexes into
  * a full index version that is atomically published.
  *
  * The reference has no stream processing semantics (the index is
  * rebuilt and swapped); this mirrors exactly that model on Structured
  * Streaming: micro-batches append batch indexes, `mergeAndPublish` is
  * the `mergeToShard` + `ReplaceIndex` step.
  */
object IndexFeeder {

  /** Start consuming a streaming DataFrame of (url, text, lang) rows;
    * each non-empty micro-batch is built into `root/batches/b<id>`. */
  def start(spark: SparkSession, stream: DataFrame, root: String,
      cfg: IndexBuilder.Config = IndexBuilder.Config()): StreamingQuery = {
    new java.io.File(s"$root/batches").mkdirs()
    stream.writeStream
      .option("checkpointLocation", s"$root/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val dir = s"$root/batches/b$batchId"
          IndexBuilder.buildPersistent(batch.sparkSession, batch, dir, cfg)
          ()
        }
      }
      .start()
  }

  /** Committed batch directories. A batch counts as committed only when
    * it carries the TERMINAL `_COMMITTED_build` marker — written after
    * EVERY stage of the batch's own build config committed, so callers
    * need no config knowledge (gating on per-stage markers required a
    * `withTrigrams` parameter, and a mismatch between the feeder's and
    * the merger's configs silently excluded committed batches forever;
    * code-review r05). meta.json alone is written during the first
    * (docmap) stage — gating on it would let a concurrent merge load a
    * partial batch. */
  def batchDirs(root: String): Seq[String] =
    Option(new java.io.File(s"$root/batches").listFiles()).getOrElse(Array.empty)
      .filter { f =>
        f.isDirectory &&
          new java.io.File(f, "meta.json").exists() &&
          new java.io.File(f, "_COMMITTED_build").exists()
      }
      .sortBy(_.getName.drop(1).toLong)
      .map(_.getAbsolutePath).toSeq

  /** ConcatN all committed batch indexes (in batch order — the docid
    * rebase order, like dcs's shard-local arrival order) into a new full
    * version and atomically publish it. */
  def mergeAndPublish(spark: SparkSession, root: String,
      cfg: IndexBuilder.Config = IndexBuilder.Config()): Option[BuiltIndex] = {
    val dirs = batchDirs(root)
    if (dirs.isEmpty) return None
    val parts = dirs.map(d => IndexBuilder.load(spark, d))
    val merged = IndexMerger.merge(spark, parts, cfg)
    val ver = IndexPublisher.nextVersion(root)
    persist(merged, s"$root/$ver")
    IndexPublisher.swap(root, ver)
    Some(merged)
  }

  /** Persist an in-memory BuiltIndex as a committed index directory
    * (loadable by IndexBuilder.load). The docs table carries NO text
    * column — an in-memory BuiltIndex holds only the docmap, and writing
    * a fake `text=""` column (as pre-r05 persists did) made a caller who
    * fed the published docs into substring/grepContext verify against
    * silently-empty text. Now such a read fails loudly (missing column),
    * and `meta.textInDocs=false` records the contract: supply your own
    * (docId, text) table for verification-stage queries. */
  def persist(idx: BuiltIndex, dir: String): Unit = {
    val spark = idx.termstats.sparkSession
    import spark.implicits._
    new java.io.File(dir).mkdirs()
    idx.docmap.toDF()
      .select("docId", "url", "lang", "shard", "dl", "indexable")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/docs")
    idx.docnorms.write.mode(SaveMode.Overwrite).parquet(s"$dir/docnorms")
    // COMBINED blocks layout (r06, VERDICT r05 next-round #5): published
    // indexes use the same one-dir `blocks` layout fresh persistent
    // builds write — the only layout IndexBuilder.load reads. Token
    // partitions precede trigram partitions in the union, and each write
    // task holds one source partition, so row groups stay kind-pure and
    // the kind filter prunes on parquet min/max stats — exactly the
    // encodeCombined contract.
    val tokBlocks = idx.postings.map(b => graft.index.EncodedBlock(0, b.term, -1,
      b.shard, b.blockId, b.df, b.cf, b.maxTf, b.firstDoc, b.lastDoc,
      b.docs, b.tfs, b.nPos, b.pos, b.posrel))
    val allBlocks = idx.trigrams match {
      case Some(tri) => tokBlocks.union(tri.map(b => graft.index.EncodedBlock(1, null,
        b.tri, b.shard, b.blockId, b.df, 0L, 0, b.firstDoc, b.lastDoc,
        b.docs, Array.emptyByteArray, b.nPos, b.pos, b.posrel)))
      case None => tokBlocks
    }
    allBlocks.write.mode(SaveMode.Overwrite).parquet(s"$dir/blocks")
    idx.termstats.write.mode(SaveMode.Overwrite).parquet(s"$dir/termstats")
    IndexBuilder.writeMeta(s"$dir/meta.json", idx.meta.copy(textInDocs = false))
    Seq("docmap", "docnorms", "postings", "termstats").foreach { st =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/_COMMITTED_$st"),
        System.currentTimeMillis().toString)
    }
    idx.trigrams.foreach { _ =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/_COMMITTED_trigrams"),
        System.currentTimeMillis().toString)
    }
    // the reversed-term and deletion-neighborhood dictionaries (suffix-
    // wildcard and fuzzy/suggest fast paths) must survive a publish too —
    // without them a published version silently degrades those queries to
    // the O(vocabulary) fallback scans. Both derive from termstats, so
    // regenerate whichever the in-memory index doesn't carry (merges
    // deliberately don't materialize the deldict — code-review r05)
    val terms = idx.termstats.toDF().select("term")
    idx.revdict
      .getOrElse(terms.select(reverse(col("term")).as("rev"), col("term")))
      .orderBy("rev").write.mode(SaveMode.Overwrite).parquet(s"$dir/revterms")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_COMMITTED_revterms"),
      System.currentTimeMillis().toString)
    idx.deldict
      .getOrElse(IndexBuilder.deldictOf(idx.termstats.sparkSession, terms))
      .orderBy("key").write.mode(SaveMode.Overwrite).parquet(s"$dir/delterms")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_COMMITTED_delterms"),
      System.currentTimeMillis().toString)
    // terminal marker (see IndexBuilder.buildPersistent): the publish
    // swap gates on this one file
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_COMMITTED_build"),
      System.currentTimeMillis().toString)
  }
}
