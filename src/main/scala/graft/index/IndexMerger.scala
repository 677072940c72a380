package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Varint

/** N-way index merge with docid rebasing — the ConcatN analogue
  * (reference `/root/reference/internal/index/merge.go:152-250,303-307`):
  * source i's docids map to [base_i, base_i + n_i) where base_i is the
  * running sum of earlier sources' doc counts (dcs bumps only the first
  * delta of each source run; here the rebase is an add on the decoded
  * stream before re-encoding, which yields byte-identical posting blocks
  * to a direct build over the concatenated corpus — the property the
  * reference asserts in `concatn_test.go:107-266`).
  *
  * Physical shape: decode each part's blocks to occurrence tuples, union,
  * then the shared (term, shard)-keyed shuffle+encode pipeline. The
  * (term, shard) key is the salted two-phase merge demanded by the north
  * rule: a hot term's postings from all sources land on nShards different
  * reducers, not one.
  */
object IndexMerger {

  /** True when merge can run as the block-level concat (no decode at all):
    * every part shares docsPerShard/blockSize with the target config and
    * every part except the last holds a whole number of shards — then each
    * source block maps 1:1 onto a target block by re-tagging its shard id
    * and shifting firstDoc/lastDoc (the encoded docid deltas are
    * shard-LOCAL, so the bytes are already correct). This is the dcs
    * ConcatN fast path (`internal/index/merge.go:303-307`: only the first
    * delta of each source run is rebased; here even that is free because
    * the local id space is untouched). */
  def canConcat(parts: Seq[BuiltIndex], cfg: IndexBuilder.Config): Boolean =
    parts.nonEmpty &&
      parts.forall(p => p.meta.docsPerShard == cfg.docsPerShard &&
        p.meta.blockSize == cfg.blockSize) &&
      parts.init.forall(_.meta.nDocs % cfg.docsPerShard == 0)

  def merge(spark: SparkSession, parts: Seq[BuiltIndex],
      cfg: IndexBuilder.Config): BuiltIndex = {
    require(parts.nonEmpty)
    if (canConcat(parts, cfg)) concatFast(spark, parts, cfg)
    else mergeGeneral(spark, parts, cfg)
  }

  /** Metadata-only N-way concat: map each part's rows into the merged id
    * space without decoding a single posting byte. At 100 TB this makes an
    * incremental merge cost O(index size) in IO and ~zero CPU, instead of
    * re-paying the whole positional encode. */
  private def concatFast(spark: SparkSession, parts: Seq[BuiltIndex],
      cfg: IndexBuilder.Config): BuiltIndex = {
    import spark.implicits._
    val bases = parts.map(_.meta.nDocs).scanLeft(0L)(_ + _)
    val nDocs = bases.last
    val dps = cfg.docsPerShard
    val nShards = math.max(1, (nDocs + dps - 1) / dps).toInt

    val docmap = parts.zip(bases).map { case (p, b) =>
      p.docmap.map { d =>
        val id = d.docId + b
        DocEntry(id, d.url, (id / dps).toInt, d.dl, d.lang, d.indexable)
      }
    }.reduce(_ union _).cache()
    val avgdl = docmap.agg(avg(col("dl"))).as[Double].head()

    val docnorms = parts.zip(bases).map { case (p, b) =>
      val baseShards = (b / dps).toInt // b is a multiple of dps by canConcat
      p.docnorms.map { n =>
        val shard = n.shard + baseShards
        DocNorms(shard, shard.toLong * dps, n.n, n.dls)
      }
    }.reduce(_ union _)

    val postings = parts.zip(bases).map { case (p, b) =>
      val baseShards = (b / dps).toInt
      p.postings.map(blk => blk.copy(shard = blk.shard + baseShards,
        firstDoc = blk.firstDoc + b, lastDoc = blk.lastDoc + b))
    }.reduce(_ union _)

    val trigrams =
      if (parts.forall(_.trigrams.isDefined))
        Some(parts.zip(bases).map { case (p, b) =>
          val baseShards = (b / dps).toInt
          p.trigrams.get.map(blk => blk.copy(shard = blk.shard + baseShards,
            firstDoc = blk.firstDoc + b, lastDoc = blk.lastDoc + b))
        }.reduce(_ union _))
      else {
        // ADVICE r02: mixed trigram presence silently degrades substring/
        // regexp on the merged index to guarded full scans — say so
        if (parts.exists(_.trigrams.isDefined))
          System.err.println("[graft] WARN: concat merge drops trigram " +
            "sections (parts have mixed trigram presence); substring/" +
            "regexp on the merged index will reject above maxScanDocs")
        None
      }

    // termstats from block metadata alone (df/cf/maxTf live on the rows)
    val termstats = postings.toDF()
      .groupBy("term")
      .agg(sum("df").as("df"), sum("cf").as("cf"), max("maxTf").as("maxTf"))
      .as[TermStats]

    val meta = IndexMeta(nDocs, avgdl, dps, nShards, cfg.blockSize, hasPositions = true)
    BuiltIndex(meta, docmap, docnorms, postings, trigrams, termstats,
      // merged reversed-term dictionary (a cheap O(vocab) projection of
      // the merged termstats) so suffix wildcards keep their fast path.
      // NO deldict here: deldictOf is O(|vocab|·len²) + a distinct, and an
      // uncached in-memory merge would re-derive it per fuzzy/suggest
      // query — strictly worse than the fallback scan those paths keep
      // for in-memory indexes. IndexFeeder.persist regenerates delterms
      // from termstats at publish time, so a PUBLISHED merge still loads
      // with the point-lookup fast path (code-review r05).
      revdict = Some(termstats.toDF()
        .select(reverse(col("term")).as("rev"), col("term"))),
      deldict = None)
  }

  /** Bench-only entry to force the re-encode path on aligned parts. */
  private[graft] def mergeGeneralForBench(spark: SparkSession, parts: Seq[BuiltIndex],
      cfg: IndexBuilder.Config): BuiltIndex = mergeGeneral(spark, parts, cfg)

  private def mergeGeneral(spark: SparkSession, parts: Seq[BuiltIndex],
      cfg: IndexBuilder.Config): BuiltIndex = {
    import spark.implicits._
    val bases = parts.map(_.meta.nDocs).scanLeft(0L)(_ + _)
    val nDocs = bases.last
    val dps = cfg.docsPerShard
    val nShards = math.max(1, (nDocs + dps - 1) / dps).toInt

    // docmap: rebase ids, recompute shard for the merged id space
    val docmap = parts.zip(bases).map { case (p, b) =>
      p.docmap.map { d =>
        val id = d.docId + b
        DocEntry(id, d.url, (id / dps).toInt, d.dl, d.lang, d.indexable)
      }
    }.reduce(_ union _).cache()

    val avgdl = docmap.agg(avg(col("dl"))).as[Double].head()

    val docnorms = docmap
      .groupByKey(_.shard)
      .mapGroups { (shard, it) =>
        val entries = it.map(d => (d.docId, d.dl)).toArray.sortBy(_._1)
        DocNorms(shard, shard.toLong * dps, entries.length,
          Varint.encodeInts(entries.map(_._2)))
      }

    // postings: decode each part's blocks into (term, shard, doc, pos)
    // occurrences in the merged id space, then re-encode
    val occs: DataFrame = parts.zip(bases).map { case (p, b) =>
      val srcDps = p.meta.docsPerShard
      p.postings.flatMap { blk =>
        val (ds, ps) = Postings.decodePositionsFlat(blk, srcDps)
        Iterator.tabulate(ds.length) { i =>
          val id = ds(i) + b
          val shard = (id / dps).toInt
          (blk.term, shard, (id - shard.toLong * dps).toInt, ps(i))
        }
      }.toDF("term", "shard", "doc", "pos")
    }.reduce(_ union _)

    // cfg.lineageDir names the MERGE's own lineage dir (stage-labeled
    // sidecars for this re-encode; ResumeSpec r04). It must be a fresh
    // directory: encodeOccurrences clears and rewrites the stage
    // subdirs, so pointing it at an EXISTING index's _lineage would
    // replace that build's rows==documents sidecars with
    // occurrence-counted merge rows (code-review r05 — buildPersistent
    // always forces its own dir, so only a direct caller can misuse it).
    val postings = IndexBuilder.encodeOccurrences(spark, occs, dps, cfg)

    val termstats = postings
      .groupBy("term")
      .agg(sum("df").as("df"), sum("cf").as("cf"), max("maxTf").as("maxTf"))
      .as[TermStats]

    // trigram sections merge the same way, if every part has them
    val trigrams =
      if (parts.forall(_.trigrams.isDefined)) {
        val triOccs = parts.zip(bases).map { case (p, b) =>
          val srcDps = p.meta.docsPerShard
          p.trigrams.get.flatMap { blk =>
            val occ: Iterator[(Long, Int)] =
              if (blk.nPos > 0) {
                val (ds, ps) = Postings.decodePositionsFlat(blk, srcDps)
                Iterator.tabulate(ds.length)(i => (ds(i), ps(i)))
              } else Postings.decodeDocs(blk, srcDps).iterator.map(d => (d, 0))
            occ.map { case (doc, pos) =>
              val id = doc + b
              val shard = (id / dps).toInt
              (blk.tri, shard, (id - shard.toLong * dps).toInt, pos)
            }
          }.toDF("tri", "shard", "doc", "pos")
        }.reduce(_ union _)
        Some(reencodeTri(spark, triOccs, dps, cfg))
      } else {
        if (parts.exists(_.trigrams.isDefined))
          System.err.println("[graft] WARN: general merge drops trigram " +
            "sections (parts have mixed trigram presence); substring/" +
            "regexp on the merged index will reject above maxScanDocs")
        None
      }

    val meta = IndexMeta(nDocs, avgdl, dps, nShards, cfg.blockSize, hasPositions = true)
    BuiltIndex(meta, docmap, docnorms, postings, trigrams, termstats,
      // merged reversed-term dictionary (a cheap O(vocab) projection of
      // the merged termstats) so suffix wildcards keep their fast path.
      // NO deldict here: deldictOf is O(|vocab|·len²) + a distinct, and an
      // uncached in-memory merge would re-derive it per fuzzy/suggest
      // query — strictly worse than the fallback scan those paths keep
      // for in-memory indexes. IndexFeeder.persist regenerates delterms
      // from termstats at publish time, so a PUBLISHED merge still loads
      // with the point-lookup fast path (code-review r05).
      revdict = Some(termstats.toDF()
        .select(reverse(col("term")).as("rev"), col("term"))),
      deldict = None)
  }

  private def reencodeTri(spark: SparkSession, occs: DataFrame, dps: Long,
      cfg: IndexBuilder.Config): org.apache.spark.sql.Dataset[TriBlock] = {
    import spark.implicits._
    // route through the token encoder keyed by the hex form, then repack
    val asTerm = occs.select(
      format_string("%06X", col("tri")).as("term"),
      col("shard"), col("doc"), col("pos"))
    IndexBuilder.encodeOccurrences(spark, asTerm, dps, cfg, stage = "trigrams").map { b =>
      val tri = Integer.parseInt(b.term, 16)
      val noPos = tri == graft.functions.Text.AllSpaces
      TriBlock(tri, b.shard, b.blockId, b.df, b.firstDoc, b.lastDoc, b.docs,
        if (noPos) 0 else b.nPos,
        if (noPos) Array.emptyByteArray else b.pos,
        if (noPos) Array.emptyByteArray else b.posrel)
    }
  }
}
