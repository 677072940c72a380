package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{BuiltIndex, IndexBuilder, IndexMerger, Postings, Search}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.queries.QueryRunner

/** Driver contract: every operator of the engine exposed as a
  * (SparkSession, sfDir) => DataFrame with a DuckDB oracle over the same
  * parquet tables. The engine queries run through the REAL index path
  * (build → encode → decode → search) so the oracle validates the whole
  * pipeline, not a shortcut.
  */
object SparkEntry {

  // ---- corpus + index caches (one build per sfDir per JVM) ---------------

  private val idxCache = TrieMap.empty[String, BuiltIndex]
  private val mergedCache = TrieMap.empty[String, BuiltIndex]

  /** documents.parquet → engine corpus. url = zero-padded doc_id, so the
    * engine's url-sorted dense docId equals doc_id (doc_ids are dense). */
  def corpus(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .select(
        format_string("doc%012d", col("doc_id")).as("url"),
        col("text"), col("lang"), col("source"), col("doc_id"))

  def cfg: IndexBuilder.Config =
    IndexBuilder.Config(docsPerShard = 128, blockSize = 64, partitions = 8)

  /** [[cfg]] with build parallelism derived from the SESSION's core count
    * instead of the constant 8 (guide §2: scale-dependent settings are
    * parameterised, not tuned to one machine). Only `partitions` varies —
    * docsPerShard/blockSize shape the query RESULTS (q_docmap's shard
    * column, block layout) and stay fixed. */
  def cfgFor(s: SparkSession): IndexBuilder.Config =
    cfg.copy(partitions = math.max(cfg.partitions, s.sparkContext.defaultParallelism))

  def index(s: SparkSession, dir: String): BuiltIndex =
    idxCache.getOrElseUpdate(dir,
      IndexBuilder.build(s, corpus(s, dir).select("url", "text", "lang"), cfgFor(s)).cache())

  /** Build independent sub-indexes CONCURRENTLY (guide §2.6): each
    * build()'s eager jobs (boundary collect, cache-fill count, avgdl)
    * otherwise serialize on the driver while most cores idle. Results
    * are deterministic — the builds share nothing but the read-only
    * corpus. */
  private def buildParts(s: SparkSession, dfs: Seq[DataFrame],
      mcfg: IndexBuilder.Config): Seq[BuiltIndex] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    dfs.map(df => Future(IndexBuilder.build(s, df, mcfg)))
      .map(Await.result(_, scala.concurrent.duration.Duration.Inf))
  }

  /** Two sub-indexes over contiguous halves of the url order, merged —
    * exercises the general (re-encode) ConcatN merge (J7) on the oracle
    * corpus: the split point is NOT shard-aligned, so the fast path must
    * decline. */
  def merged(s: SparkSession, dir: String): BuiltIndex =
    mergedCache.getOrElseUpdate(dir, {
      val c = corpus(s, dir).select("url", "text", "lang", "doc_id")
      val n = c.count()
      // odd split point: docsPerShard is even, so an ODD first-part size
      // can never be shard-aligned — n/2 alone made the !canConcat assert
      // below a landmine for any corpus whose half-count was a multiple
      // of docsPerShard (code-review r05)
      val half = math.min((n / 2) | 1L, n - 1)
      val mcfg = cfgFor(s).copy(buildTrigrams = false)
      val parts = buildParts(s, Seq(
        c.filter(col("doc_id") < half).drop("doc_id"),
        c.filter(col("doc_id") >= half).drop("doc_id")), mcfg)
      assert(!IndexMerger.canConcat(parts, mcfg))
      IndexMerger.merge(s, parts, mcfg).cache()
    })

  private val concatCache = TrieMap.empty[String, BuiltIndex]

  /** Shard-ALIGNED split (first part = 2 whole shards of 128 docs) so the
    * merge runs the block-level concat fast path — no posting decode. */
  def mergedConcat(s: SparkSession, dir: String): BuiltIndex =
    concatCache.getOrElseUpdate(dir, {
      val c = corpus(s, dir).select("url", "text", "lang", "doc_id")
      val mcfg = cfgFor(s).copy(buildTrigrams = false)
      val parts = buildParts(s, Seq(
        c.filter(col("doc_id") < 256).drop("doc_id"),
        c.filter(col("doc_id") >= 256).drop("doc_id")), mcfg)
      assert(IndexMerger.canConcat(parts, mcfg), "expected the concat fast path")
      IndexMerger.merge(s, parts, mcfg).cache()
    })

  private def docsWithIds(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir).select(col("doc_id").as("docId"), col("text"))

  /** A PERSISTED index (buildPersistent into a temp dir, then load()ed):
    * puts the on-disk layout — reversed-term dictionary, lineage
    * sidecars, commit markers, load-time audit — under the driver's
    * oracle gate, not just under specs. One build per sfDir per JVM. */
  private val persistedCache = TrieMap.empty[String, BuiltIndex]
  private val persistedDirs = TrieMap.empty[String, String]
  // bench/verify JVMs build these under java.io.tmpdir — delete on JVM
  // exit so repeated rounds don't fill /tmp with full persisted indexes
  // (code-review r04)
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    persistedDirs.values.foreach { d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)); ()
    }))
  def persisted(s: SparkSession, dir: String): BuiltIndex =
    persistedCache.getOrElseUpdate(dir, {
      val out = java.nio.file.Files.createTempDirectory("graft-persist").toString
      IndexBuilder.buildPersistent(s, corpus(s, dir).select("url", "text", "lang"), out, cfgFor(s))
      persistedDirs(dir) = out
      IndexBuilder.load(s, out).cache()
    })

  /** k-means-trained IVF centroids, cached per sfDir. The oracle SQL for
    * q_ivf_trained inlines these as literals — available only after the
    * query has run in this JVM; Verify runs every query before dumping
    * oracle_sql.json, so the driver's check always sees them. */
  private val trainedCentsCache = TrieMap.empty[String, Array[Array[Double]]]
  def trainedCents(s: SparkSession, dir: String): Array[Array[Double]] =
    trainedCentsCache.getOrElseUpdate(dir,
      Similarity.kmeansCentroids(s.read.parquet(s"$dir/embeddings.parquet"), k = 8))

  // fixed query constants (chosen from the synthetic vocabulary)
  val AndTerms = Seq("data", "table", "fast")
  val OrTerms = Seq("dup", "vector")
  val Bm25Terms = Seq("data", "dup", "table")
  val PhraseTerms = Seq("data", "customer")
  val SubstringLit = "fast table"
  val SubstringNoCaseLit = "Fast Table" // mixed case: exercises the fold
  val TriLiterals = Seq("dat", "tab", "fas")
  val RegexPattern = "qu[ae]ry|sc[ao]n"
  // exercises the compiler's case-fold path end-to-end (dcs's case-split,
  // sourcebackend.go:315-335); (?i) is inline-flag syntax in Java regex
  // (Spark rlike) AND RE2 (DuckDB regexp_matches) alike
  val RegexNoCasePattern = "(?i)QU[AE]RY|SC[AO]N"
  val BoolMixedQuery = "(data table) OR (dup vector)"
  val NearTerms: (String, String) = ("data", "table")
  val NearWindow = 3
  val PrefixLit = "s" // expands to scan/slow/small/sort/spark/stream
  val CooccurTerm = "dup"
  val GroupQuery = "dup" // per-source result grouping over its matches
  val NearQuery = s"${NearTerms._1} NEAR/$NearWindow ${NearTerms._2}"
  val PrefixQuery = s"$PrefixLit*"
  val SuffixQuery = "*ow" // expands to row/slow/window
  val FuzzyQuery = "sow~" // Levenshtein<=1 against the dictionary: row, slow
  val SuggestSeed = "kay" // corrections: key (dist 1), a (dist 2)
  val MltSeedDoc = 42L // more-like-this seed; term rank is all-integer
  val MltTerms = 3
  val PathFilterQuery = "dup path:[0-5]$" // urls ending in digits 0-5
  val BatchQueries: Seq[(Long, Seq[String])] = Seq(
    (0L, Seq("data", "table")),
    (1L, Seq("dup", "vector")),
    (2L, Seq("fast", "merge", "spark")))

  def entry(spark: SparkSession): DataFrame =
    QueryRunner.run(spark, index(spark, "/root/testdata/sf0.001"), "data table join", 10)

  // ---- queries -----------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1/S2/A1-A3/S5-S8: docid assignment + ingest
    "q_docmap" -> ((s, dir) => {
      index(s, dir).docmap.toDF()
        .select(col("docId").as("docid"), col("url"), col("shard"), col("dl"), col("lang"))
        .orderBy("docid")
    }),
    // A3: global term statistics from the ENCODED index
    "q_termstats" -> ((s, dir) => {
      index(s, dir).termstats.toDF()
        .select(col("term"), col("df"), col("cf"), col("maxTf").as("max_tf"))
        .orderBy("term")
    }),
    // S5+S8+S10: full encode→decode round-trip of the docid+tf sections
    "q_postings_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val idx = index(s, dir)
      val dps = idx.meta.docsPerShard
      idx.postings.flatMap { b =>
        val (ds, tfs) = Postings.decodeDocsTfs(b, dps)
        Iterator.tabulate(ds.length)(i => (b.term, ds(i), tfs(i)))
      }.toDF("term", "docid", "tf").orderBy("term", "docid")
    }),
    // S6/S7: positional sections round-trip (pos + posrel)
    "q_positions_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val idx = index(s, dir)
      val dps = idx.meta.docsPerShard
      idx.postings.flatMap { b =>
        val (ds, ps) = Postings.decodePositionsFlat(b, dps)
        Iterator.tabulate(ds.length)(i => (b.term, ds(i), ps(i)))
      }.toDF("term", "docid", "pos").orderBy("term", "docid", "pos")
    }),
    // J1: posting-list intersection
    "q_search_and" -> ((s, dir) =>
      Search.searchAnd(s, index(s, dir), AndTerms)
        .select(col("docId").as("docid")).orderBy("docid")),
    // J2: posting-list union
    "q_search_or" -> ((s, dir) =>
      Search.searchOr(s, index(s, dir), OrTerms)
        .select(col("docId").as("docid")).orderBy("docid")),
    // T2 + X9: block-max WAND BM25 top-k (disjunctive ranked retrieval)
    "q_bm25_topk" -> ((s, dir) =>
      Search.topK(s, index(s, dir), Bm25Terms, 20)
        .select(col("docId").as("docid"), round(col("score"), 5).as("score"))),
    // conjunctive scored top-k — the QueryRunner fast-path semantics
    // (all terms required, dcs query.go:48-62 + BM25)
    "q_bm25_and" -> ((s, dir) =>
      Search.topKAnd(s, index(s, dir), Bm25Terms, 20)
        .select(col("docId").as("docid"), round(col("score"), 5).as("score"))),
    // BATCH retrieval: many queries, one job (per-shard term decode
    // shared across queries) — the 100 TB query-throughput shape
    "q_batch_topk" -> ((s, dir) => {
      val qdf = s.createDataFrame(BatchQueries).toDF("qid", "terms")
      Search.topKBatch(s, index(s, dir), qdf, 10)
        .select(col("qid"), col("docId").as("docid"),
          round(col("score"), 5).as("score"), col("rank"))
        .orderBy("qid", "rank")
    }),
    // J3 extension: NEAR/k proximity over token positions — bounded-gap
    // positional join (phrase is the window=adjacent special case)
    "q_near" -> ((s, dir) =>
      Search.near(s, index(s, dir), NearTerms._1, NearTerms._2, NearWindow)
        .select(col("docId").as("docid")).orderBy("docid")),
    // wildcard/prefix term query: capped dictionary expansion → one OR
    "q_prefix" -> ((s, dir) =>
      Search.prefixSearch(s, index(s, dir), PrefixLit)
        .select(col("docId").as("docid")).orderBy("docid")),
    // co-occurrence mining from the encoded index: all-term decode
    // restricted (in-decode block skip) to the target's posting list
    "q_cooccur" -> ((s, dir) =>
      Search.cooccurrence(s, index(s, dir), CooccurTerm, topN = 20)
        .select(col("term"), col("n_docs"))),
    // A7: global result count of a conjunctive query
    "q_count" -> ((s, dir) =>
      Search.searchAnd(s, index(s, dir), AndTerms)
        .agg(count(lit(1)).as("n_matches"))),
    // query-language NEAR/k: proximity atom restricts, operands score
    "q_near_query" -> ((s, dir) =>
      QueryRunner.run(s, index(s, dir), NearQuery, 10)
        .select(col("docId").as("docid"), round(col("score"), 5).as("score"))),
    // query-language wildcard: `s*` expands against the dictionary;
    // candidates = union, scoring = disjunctive BM25 over the expansion
    "q_prefix_query" -> ((s, dir) =>
      QueryRunner.run(s, index(s, dir), PrefixQuery, 10)
        .select(col("docId").as("docid"), round(col("score"), 5).as("score"))),
    // leading wildcard `*ow`: full-dictionary expansion (endsWith), same
    // union-candidates + expansion-scored semantics as prefix
    "q_suffix_query" -> ((s, dir) =>
      QueryRunner.run(s, index(s, dir), SuffixQuery, 10)
        .select(col("docId").as("docid"), round(col("score"), 5).as("score"))),
    // same suffix wildcard through the PERSISTED index: the reversed-term
    // dictionary (rev-prefix range, parquet min/max pruning) replaces the
    // dictionary scan; scores must match the in-memory path exactly
    "q_suffix_rev" -> ((s, dir) =>
      QueryRunner.run(s, persisted(s, dir), SuffixQuery, 10)
        .select(col("docId").as("docid"), round(col("score"), 5).as("score"))),
    // per-partition lineage rolled up per stage: every encode task wrote
    // its sidecar and together they saw each document exactly once
    "q_lineage" -> ((s, dir) => {
      persisted(s, dir) // ensure built (and load-time audited)
      IndexBuilder.lineage(s, persistedDirs(dir))
        .groupBy("stage").agg(sum("rows").as("n_rows"))
        .filter(col("stage").isin("postings", "trigrams"))
    }),
    // fuzzy `sow~` through the PERSISTED index: the deletion-neighborhood
    // dictionary (delterms — key IN lookup, parquet-pruned) replaces the
    // O(vocabulary) levenshtein scan; results must match the scan path
    // exactly (PlanAuditSpec asserts the identity)
    "q_fuzzy_query" -> ((s, dir) =>
      QueryRunner.run(s, persisted(s, dir), FuzzyQuery, 10)
        .select(col("docId").as("docid"), round(col("score"), 5).as("score"))),
    // spell suggestion: deldict candidates ranked (dist ASC, df DESC) —
    // same persisted-index fast path
    "q_suggest" -> ((s, dir) =>
      Search.suggest(s, persisted(s, dir), SuggestSeed, maxDist = 2, k = 5)),
    // more-like-this: seed doc's top terms (tf DESC, df ASC, term ASC —
    // integer rank) -> disjunctive BM25 top-k excluding the seed
    "q_more_like_this" -> ((s, dir) =>
      Search.moreLikeThis(s, index(s, dir), MltSeedDoc, MltTerms, 10)
        .select(col("docId").as("docid"), round(col("score"), 5).as("score"))),
    // dcs per-package grouping analogue: per-source match count + best hit
    "q_result_stats" -> ((s, dir) => {
      val src = corpus(s, dir).select(col("doc_id").as("docId"), col("source").as("grp"))
      QueryRunner.groupedResultStats(s, index(s, dir), GroupQuery, src)
        .select(col("grp").as("source"), col("n_matches"), col("best_docid"),
          round(col("best_score"), 5).as("best_score"))
        .orderBy("source")
    }),
    // J3: positional phrase join
    "q_phrase" -> ((s, dir) =>
      Search.phrase(s, index(s, dir), PhraseTerms)
        .select(col("docId").as("docid")).orderBy("docid")),
    // trigram index + positional refinement + exact verification (X2/X3)
    "q_substring" -> ((s, dir) =>
      Search.substring(s, index(s, dir), docsWithIds(s, dir), SubstringLit)
        .select(col("docId").as("docid")).orderBy("docid")),
    // case-insensitive literal search via trigram case-fold expansion —
    // the dcs identifier-query path (sourcebackend.go:315-335)
    "q_substring_nocase" -> ((s, dir) =>
      Search.substringNoCase(s, index(s, dir), docsWithIds(s, dir), SubstringNoCaseLit)
        .select(col("docId").as("docid")).orderBy("docid")),
    // X1+X2: regexp → trigram query → index eval → rlike verification
    "q_regexp" -> ((s, dir) =>
      Search.regexpSearch(s, index(s, dir), docsWithIds(s, dir), RegexPattern)
        .select(col("docId").as("docid")).orderBy("docid")),
    // trigram docid sections for selected trigrams
    "q_trigram_postings" -> ((s, dir) => {
      import s.implicits._
      val idx = index(s, dir)
      val dps = idx.meta.docsPerShard
      val tris = TriLiterals.map(triOf)
      idx.trigrams.get.filter(col("tri").isin(tris.map(Integer.valueOf): _*))
        .flatMap { b =>
          Postings.decodeDocs(b, dps).iterator.map(d => (graft.functions.Text.trigramHex(b.tri), d))
        }.toDF("tri", "docid").orderBy("tri", "docid")
    }),
    // J7: N-way merge with docid rebase ≡ direct build (general re-encode)
    "q_merge_termstats" -> ((s, dir) => {
      merged(s, dir).termstats.toDF()
        .select(col("term"), col("df"), col("cf"), col("maxTf").as("max_tf"))
        .orderBy("term")
    }),
    // J7 fast path: block-level concat (no decode) ≡ direct build
    "q_merge_concat" -> ((s, dir) => {
      mergedConcat(s, dir).termstats.toDF()
        .select(col("term"), col("df"), col("cf"), col("maxTf").as("max_tf"))
        .orderBy("term")
    }),
    // the incremental-update pipeline END-TO-END (dcs's nightly
    // base+delta rebuild): two sub-builds → block-level concat merge →
    // BM25 retrieval over the MERGED index must rank identically to the
    // direct full build (same oracle as q_bm25_topk — the merge is
    // invisible to search, not just to termstats)
    "q_incremental_search" -> ((s, dir) =>
      Search.topK(s, mergedConcat(s, dir), Bm25Terms, 20)
        .select(col("docId").as("docid"), round(col("score"), 5).as("score"))),
    // F3-analogue metadata filter + restricted scoring
    "q_lang_filter" -> ((s, dir) =>
      QueryRunner.run(s, index(s, dir), "dup lang:de", 10)
        .select(col("docId").as("docid"), round(col("score"), 5).as("score"))),
    // negated metadata filter (-lang:, the dcs -package:/npath analogue)
    "q_neg_filter" -> ((s, dir) =>
      QueryRunner.run(s, index(s, dir), "dup -lang:de", 10)
        .select(col("docId").as("docid"), round(col("score"), 5).as("score"))),
    // T3: result pagination under the deterministic global order
    "q_page" -> ((s, dir) =>
      QueryRunner.page(s, index(s, dir), "data", 5, 1)
        .select(col("docId").as("docid"), col("url"),
          round(col("score"), 5).as("score"), col("rank"))
        .orderBy("rank")),
    // A5: per-group cap via window
    "q_topk_per_source" -> ((s, dir) => {
      val scored = QueryRunner.scoreDocs(s, index(s, dir), Seq("data", "dup"), None)
      val src = corpus(s, dir).select(col("doc_id").as("docId"), col("source"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("score").desc, col("docId").asc)
      scored.join(src, "docId")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("source"), col("docId").as("docid"),
          round(col("score"), 5).as("score"), col("rn"))
        .orderBy("source", "rn")
    }),
    // X3: grep with line numbers + context sizes, CANDIDATE-FED (r03):
    // the trigram index pre-restricts the docs before the line-level scan,
    // like dcs grepping only posting-query candidates
    // (sourcebackend.go:360-418). Documents are single-line; multi-line
    // context is covered by EngineSpec goldens.
    "q_grep_context" -> ((s, dir) =>
      Search.grepContextIndexed(s, index(s, dir), docsWithIds(s, dir), "dup", ctx = 2)
        .select(col("docId").as("docid"), col("line_no"), col("line"),
          size(col("before")).as("n_before"), size(col("after")).as("n_after"))
        .orderBy("docid", "line_no")),
    // X4: FiveLines snippet — 5-line window around the first matching
    // line (read.go:484-528 semantics; multi-line goldens in EngineSpec),
    // candidate-fed from the literal's trigram+positional candidates (r03)
    "q_snippet" -> ((s, dir) =>
      Search.fiveLinesIndexed(s, index(s, dir), docsWithIds(s, dir), "dup")
        .select(col("docId").as("docid"), col("line_no"), col("snippet"))
        .orderBy("docid")),
    // nested boolean grammar (r03): mixed AND/OR with parens —
    // Or(And(data,table), And(dup,vector)) evaluated per shard in one job
    "q_bool_mixed" -> ((s, dir) =>
      QueryRunner.run(s, index(s, dir), BoolMixedQuery, 10)
        .select(col("docId").as("docid"), round(col("score"), 5).as("score"))),
    // case-insensitive regexp end-to-end: (?i) drives the compiler's
    // fold path, verification uses the same inline-flag pattern
    "q_regexp_nocase" -> ((s, dir) =>
      Search.regexpSearch(s, index(s, dir), docsWithIds(s, dir), RegexNoCasePattern)
        .select(col("docId").as("docid")).orderBy("docid")),
    // path: REGEXP filter (dcs path:/-path: compile as regexps,
    // sourcebackend.go:28-129) — bounded-engine match over the url
    "q_path_filter" -> ((s, dir) =>
      QueryRunner.run(s, index(s, dir), PathFilterQuery, 10)
        .select(col("docId").as("docid"), round(col("score"), 5).as("score"))),
    // IVF ANN over k-means-TRAINED centroids (oracle inlines the trained
    // centroids as SQL literals — the hyperplane-literal technique)
    "q_ivf_trained" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.ivfCosineTopK(emb, emb.filter(col("vec_id") < 5), 5,
        trainedCents(s, dir), nprobe = 2)
        .orderBy("qid", "rank")
    }),
    // pipeline: exact dedup
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(corpus(s, dir), idCol = "doc_id")
        .select(col("text_hash"), col("keep_id"), col("n_dups"))
        .orderBy("text_hash")),
    // pipeline: MinHash+LSH banded signatures
    "q_minhash_bands" -> ((s, dir) =>
      Dedup.minhashBands(corpus(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4)
        .orderBy("id", "band")),
    // pipeline: n-gram Jaccard near-dup pairs (exact all-pairs baseline)
    "q_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(corpus(s, dir), "doc_id", "text",
        shingleN = 3, threshold = 0.2)
        .orderBy("id1", "id2")),
    // pipeline: the composed scale path — MinHash+LSH candidates →
    // exact Jaccard verification restricted to those pairs
    "q_lsh_jaccard" -> ((s, dir) =>
      Dedup.lshJaccard(corpus(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.2)
        .orderBy("id1", "id2")),
    // pipeline: SimHash fingerprints
    "q_simhash" -> ((s, dir) =>
      Dedup.simhash(corpus(s, dir), "doc_id", "text").orderBy("id")),
    // pipeline: brute-force cosine ANN baseline
    "q_ann_cosine" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 5), 5)
        .orderBy("qid", "rank")
    }),
    // pipeline: LSH-bucketed ANN (the scale path)
    "q_lsh_ann" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.lshCosineTopK(emb, emb.filter(col("vec_id") < 5), 5,
        dim = 64, planes = 6)
        .orderBy("qid", "rank")
    }),
    // pipeline: IVF ANN — nearest-cell coarse quantizer, nprobe=2
    // (deterministic anchors so the oracle can inline them; the k-means-
    // trained path is spec-tested in EngineSpec)
    "q_ivf_ann" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.ivfCosineTopK(emb, emb.filter(col("vec_id") < 5), 5,
        Similarity.ivfAnchors(64, 8), nprobe = 2)
        .orderBy("qid", "rank")
    }),
    // pipeline: embedding-cosine near-duplicate pairs (exact baseline,
    // opt-in O(n²) — the default is the LSH path below)
    "q_embed_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDup(s.read.parquet(s"$dir/embeddings.parquet"), 0.4,
        exact = true)
        .orderBy("id1", "id2")),
    // pipeline: LSH-bucketed near-dup pairs — the default & scale path
    "q_embed_neardup_lsh" -> ((s, dir) =>
      Dedup.embeddingNearDup(s.read.parquet(s"$dir/embeddings.parquet"), 0.4)
        .orderBy("id1", "id2")),
    // streaming-twin batch: tumbling-window event aggregation (the same
    // operator runs under Structured Streaming with a watermark —
    // StreamingSpec asserts equality)
    "q_event_windows" -> ((s, dir) =>
      graft.streaming.Events.windowedCounts(
        s.read.parquet(s"$dir/events.parquet"), "1 hour")
        .orderBy("window_start_us", "event_type")),
    // gap-based sessionization over the event stream (30-minute gap)
    "q_sessionize" -> ((s, dir) =>
      graft.streaming.Events.sessionize(
        s.read.parquet(s"$dir/events.parquet"), gapMin = 30)
        .orderBy("user_id", "session")),
    // pipeline: newest-version dedup (X10 analogue: latest event per key)
    "q_newest_version" -> ((s, dir) =>
      Dedup.newestVersion(s.read.parquet(s"$dir/events.parquet"),
        "user_id", "ts", "event_id")
        // events.ts is TIMESTAMP_NTZ; session TZ is UTC, so the cast
        // yields the same wall-clock micros DuckDB's epoch_us reports
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"))
        .orderBy("user_id")),
    // pipeline: language id
    "q_langid" -> ((s, dir) => {
      val ids = corpus(s, dir).select(col("doc_id").as("docid"), col("text"))
      TextAnalysis.languageId(ids, "docid").orderBy("docid")
    }),
    // pipeline: quality scoring
    "q_quality" -> ((s, dir) => {
      val ids = corpus(s, dir).select(col("doc_id").as("docid"), col("text"))
      TextAnalysis.qualityScore(ids, "docid").orderBy("docid")
    }),
    // pipeline: token counting
    "q_token_counts" -> ((s, dir) => {
      val ids = corpus(s, dir).select(col("doc_id").as("docid"), col("text"))
      TextAnalysis.tokenCounts(ids, "docid").orderBy("docid")
    }),
    // pipeline: winnowing-style fingerprint
    "q_fingerprint" -> ((s, dir) => {
      val ids = corpus(s, dir).select(col("doc_id").as("docid"), col("text"))
      TextAnalysis.fingerprint(ids, "docid").orderBy("docid")
    }),
    // pipeline: multimodal binary plumbing (stubbed codec)
    "q_media_features" -> ((s, dir) => {
      val ids = corpus(s, dir).select(col("doc_id"), col("text"))
      Multimodal.featurize(Multimodal.syntheticMedia(s, ids))
        .toDF().select(col("id"), col("kind"), col("nBytes").as("n_bytes"), col("sha"))
        .orderBy("id")
    }),
    // pipeline: frame sampling plumbing
    "q_frame_sample" -> ((s, dir) => {
      val ids = corpus(s, dir).select(col("doc_id"), col("text"))
      Multimodal.sampleFrames(Multimodal.syntheticMedia(s, ids))
        .groupBy("id")
        .agg(count(lit(1)).as("n_frames"), sum("frame_bytes").as("bytes_sampled"))
        .orderBy("id")
    }))

  // ---- oracle SQL --------------------------------------------------------

  /** Shared CTE prefix: dense docid (row_number over doc_id), token list
    * and exploded (term, pos) per doc — the brute-force re-derivation the
    * index pipeline must reproduce. */
  private val P =
    """WITH ids AS (
      |  SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS docid,
      |         doc_id, text, lang, source, n_chars
      |  FROM documents
      |), toks AS (
      |  SELECT docid, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
      |  FROM ids
      |), tok AS (
      |  SELECT t.docid, u.tok AS term, CAST(u.i - 1 AS INT) AS pos
      |  FROM toks t, LATERAL (SELECT unnest(t.l) AS tok, generate_subscripts(t.l, 1) AS i) u
      |)""".stripMargin

  private def inList(xs: Seq[String]): String = xs.map(x => s"'$x'").mkString(", ")

  private val bm25Score =
    "ln((n - df + 0.5) / (df + 0.5) + 1.0) * c * 2.2 / (c + 1.2 * (0.25 + 0.75 * dl / avgdl))"

  private def bm25Sql(terms: Seq[String], k: Int, restrict: String = ""): String =
    bm25SqlWhere(s"term IN (${inList(terms)})", k, restrict)

  /** [[bm25Sql]] with an arbitrary term predicate — lets the oracle derive
    * a wildcard/fuzzy expansion ITSELF (LIKE / levenshtein over the token
    * dictionary) instead of trusting a precomputed term list. */
  private def bm25SqlWhere(termsWhere: String, k: Int, restrict: String = ""): String =
    s"""$P, tf AS (
       |  SELECT term, docid, count(*) AS c FROM tok
       |  WHERE $termsWhere GROUP BY 1, 2
       |), dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |dls AS (SELECT docid, len(l) AS dl FROM toks),
       |stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM ids) AS n,
       |                 (SELECT avg(len(l)) FROM toks) AS avgdl)
       |SELECT docid, round(CAST(sum($bm25Score) AS DOUBLE), 5) AS score
       |FROM tf JOIN dfs USING (term) JOIN dls USING (docid), stats
       |$restrict
       |GROUP BY docid
       |ORDER BY sum($bm25Score) DESC, docid ASC
       |LIMIT $k""".stripMargin

  private def triOf(s3: String): Int = {
    val b = s3.getBytes("UTF-8")
    ((b(0) & 0xff) << 16) | ((b(1) & 0xff) << 8) | (b(2) & 0xff)
  }

  private val shingCte =
    """, shing AS (
      |  SELECT DISTINCT a.docid AS id, a.term || ' ' || b.term || ' ' || c.term AS sh
      |  FROM tok a
      |  JOIN tok b ON a.docid = b.docid AND b.pos = a.pos + 1
      |  JOIN tok c ON a.docid = c.docid AND c.pos = a.pos + 2
      |)""".stripMargin

  private def simhashSql: String = {
    val voteCols = (0 until 64).map { i =>
      val mask = 1 << (i % 4)
      s"sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, ${i / 4 + 1}, 1)) - 1) & $mask) > 0 THEN w ELSE -w END) AS b$i"
    }.mkString(",\n    ")
    def half(lo: Int, hi: Int, shift: Int) = (lo until hi).map { i =>
      s"CASE WHEN b$i > 0 THEN CAST(${1L << (i - shift)} AS BIGINT) ELSE 0 END"
    }.mkString(" + ")
    s"""$P, tf AS (
       |  SELECT docid AS id, term, CAST(count(*) AS BIGINT) AS w, md5(term) AS h
       |  FROM tok GROUP BY docid, term
       |), votes AS (
       |  SELECT id,
       |    $voteCols
       |  FROM tf GROUP BY id
       |)
       |SELECT id, CAST(${half(0, 32, 0)} AS BIGINT) AS simhash_lo,
       |       CAST(${half(32, 64, 32)} AS BIGINT) AS simhash_hi
       |FROM votes ORDER BY id""".stripMargin
  }

  /** Bucket expression for LSH oracle: inline the exact hyperplane
    * literals the Spark side uses. `e` = embedding column reference. */
  private def lshBucketSql(e: String, dim: Int, planes: Int): String = {
    val hp = Similarity.hyperplanes(dim, planes)
    (0 until planes).map { p =>
      val dotExpr = (0 until dim).map(i =>
        s"CAST($e[${i + 1}] AS DOUBLE) * ${hp(p)(i)}").mkString(" + ")
      s"(CASE WHEN $dotExpr >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** IVF oracle over INLINED centroid literals (anchor- or k-means-
    * trained — the same arithmetic as Spark's graft_dot ascending-index
    * fold, so results are bit-identical). */
  private def ivfSql(cents: Array[Array[Double]], nprobe: Int): String = {
    val dim = cents.head.length
    def sExpr(j: Int): String = {
      val c2 = cents(j).map(x => x * x).sum
      val dot = (0 until dim).map(i =>
        s"CAST(embedding[${i + 1}] AS DOUBLE) * ${cents(j)(i)}").mkString(" + ")
      s"($c2 - 2.0 * ($dot))"
    }
    val structs = cents.indices.map(j => s"struct_pack(s := ${sExpr(j)}, j := $j)").mkString(", ")
    val probes = (1 to nprobe).map(p => s"l[$p].j").mkString(", ")
    s"""$annFlat, cellrank AS (
       |  SELECT vec_id, list_sort([$structs]) AS l FROM embeddings
       |), ccell AS (SELECT vec_id, l[1].j AS cell FROM cellrank),
       |qcell AS (SELECT vec_id, unnest([$probes]) AS cell FROM cellrank WHERE vec_id < 5),
       |dots AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid, sum(a.v * b.v) AS dot
       |  FROM qcell q JOIN ccell c ON c.cell = q.cell AND c.vec_id <> q.vec_id
       |  JOIN flat a ON a.vec_id = q.vec_id JOIN flat b ON b.vec_id = c.vec_id AND b.i = a.i
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT qid, cid, round(CAST(dot / (nq.nrm * nc.nrm) AS DOUBLE), 5) AS cosine
       |  FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid
       |), ranked AS (
       |  SELECT qid, cid, cosine,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS INT) AS rank
       |  FROM scored
       |)
       |SELECT qid, cid, cosine, rank FROM ranked WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin
  }

  private val annFlat =
    """WITH flat AS (
      |  SELECT vec_id, CAST(u.v AS DOUBLE) AS v, u.i
      |  FROM embeddings, LATERAL (SELECT unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i) u
      |), norms AS (
      |  SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM flat GROUP BY 1
      |)""".stripMargin

  private def langidSql: String = {
    val langs = TextAnalysis.stopwords.keys.toSeq.sorted
    val scoreCols = langs.map(l =>
      s"sum(CASE WHEN term IN (${inList(TextAnalysis.stopwords(l))}) THEN 1 ELSE 0 END) AS s_$l")
      .mkString(",\n    ")
    val m = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val pick = langs.map(l => s"WHEN s_$l = m AND m > 0 THEN '$l'").mkString(" ")
    // LEFT JOIN back to ids: a token-less doc has no tok rows but must
    // still emit ('und', 0) — its s_l/m are NULL, every CASE arm is NULL,
    // the ELSE catches it (same semantics as the per-row Spark form)
    s"""$P, scored AS (
       |  SELECT docid,
       |    $scoreCols
       |  FROM tok GROUP BY docid
       |), withm AS (SELECT *, $m AS m FROM scored)
       |SELECT i.docid, CASE $pick ELSE 'und' END AS lang_pred,
       |       CAST(coalesce(m, 0) AS BIGINT) AS evidence
       |FROM ids i LEFT JOIN withm w ON i.docid = w.docid ORDER BY i.docid""".stripMargin
  }

  /** Oracle SQL for the queries run against `sfDir` — q_ivf_trained's
    * centroid literals are looked up BY DIR, so a JVM that has run
    * queries over several sf dirs (sf0.1 then sf1) dumps the right
    * centroids for the dir being verified (ADVICE r03). */
  def oracleSqlFor(sfDir: String): Map[String, String] =
    baseOracleSql ++
      trainedCentsCache.get(sfDir)
        .map(c => "q_ivf_trained" -> ivfSql(c, nprobe = 2))

  /** Keyless variant (driver contract): valid when the JVM has only seen
    * one sf dir; prefer [[oracleSqlFor]] when the dir is known. */
  def oracleSql: Map[String, String] =
    baseOracleSql ++
      trainedCentsCache.readOnlySnapshot().values.headOption
        .map(c => "q_ivf_trained" -> ivfSql(c, nprobe = 2))

  private def baseOracleSql: Map[String, String] = Map(
    "q_docmap" ->
      s"""$P SELECT i.docid,
         |  'doc' || lpad(CAST(i.doc_id AS VARCHAR), 12, '0') AS url,
         |  CAST(i.docid // 128 AS INT) AS shard,
         |  CAST(len(t.l) AS INT) AS dl, i.lang
         |FROM ids i JOIN toks t USING (docid) ORDER BY i.docid""".stripMargin,
    "q_termstats" ->
      s"""$P, tf AS (SELECT term, docid, count(*) AS c FROM tok GROUP BY 1, 2)
         |SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(c) AS BIGINT) AS cf,
         |       CAST(max(c) AS INT) AS max_tf
         |FROM tf GROUP BY term ORDER BY term""".stripMargin,
    "q_postings_roundtrip" ->
      s"""$P SELECT term, docid, CAST(count(*) AS INT) AS tf
         |FROM tok GROUP BY term, docid ORDER BY term, docid""".stripMargin,
    "q_positions_roundtrip" ->
      s"""$P SELECT term, docid, pos FROM tok ORDER BY term, docid, pos""".stripMargin,
    "q_search_and" ->
      s"""$P SELECT docid FROM tok WHERE term IN (${inList(AndTerms)})
         |GROUP BY docid HAVING count(DISTINCT term) = ${AndTerms.length}
         |ORDER BY docid""".stripMargin,
    "q_search_or" ->
      s"""$P SELECT DISTINCT docid FROM tok WHERE term IN (${inList(OrTerms)})
         |ORDER BY docid""".stripMargin,
    "q_bm25_topk" -> bm25Sql(Bm25Terms, 20),
    // retrieval over the concat-merged index ranks exactly like the
    // direct build — same oracle as q_bm25_topk by design
    "q_incremental_search" -> bm25Sql(Bm25Terms, 20),
    "q_bm25_and" -> bm25Sql(Bm25Terms, 20,
      s"""WHERE docid IN (SELECT docid FROM tok WHERE term IN (${inList(Bm25Terms)})
         |GROUP BY docid HAVING count(DISTINCT term) = ${Bm25Terms.length})""".stripMargin),
    "q_batch_topk" -> {
      val allQTerms = BatchQueries.flatMap(_._2).distinct
      val values = BatchQueries.flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
        .mkString(", ")
      s"""$P, qt AS (SELECT * FROM (VALUES $values) AS v(qid, term)),
         |tf AS (
         |  SELECT docid, term, count(*) AS c FROM tok
         |  WHERE term IN (${inList(allQTerms)}) GROUP BY 1, 2
         |), dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |dls AS (SELECT docid, len(l) AS dl FROM toks),
         |stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM ids) AS n,
         |                 (SELECT avg(len(l)) FROM toks) AS avgdl),
         |scored AS (
         |  SELECT q.qid, t.docid, sum($bm25Score) AS sc
         |  FROM qt q JOIN tf t USING (term) JOIN dfs USING (term) JOIN dls ON dls.docid = t.docid, stats
         |  GROUP BY q.qid, t.docid
         |), ranked AS (
         |  SELECT qid, docid, sc,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sc DESC, docid ASC) AS INT) AS rank
         |  FROM scored
         |)
         |SELECT CAST(qid AS BIGINT) AS qid, docid,
         |  round(CAST(sc AS DOUBLE), 5) AS score, rank
         |FROM ranked WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
    },
    "q_near" ->
      s"""$P SELECT DISTINCT a.docid AS docid FROM tok a
         |JOIN tok b ON a.docid = b.docid AND abs(a.pos - b.pos) <= $NearWindow
         |WHERE a.term = '${NearTerms._1}' AND b.term = '${NearTerms._2}'
         |ORDER BY docid""".stripMargin,
    "q_prefix" ->
      s"""$P SELECT DISTINCT docid FROM tok WHERE term LIKE '$PrefixLit%'
         |ORDER BY docid""".stripMargin,
    "q_cooccur" ->
      s"""$P, target AS (SELECT DISTINCT docid FROM tok WHERE term = '$CooccurTerm'),
         |co AS (
         |  SELECT t.term, CAST(count(DISTINCT t.docid) AS BIGINT) AS n_docs
         |  FROM tok t JOIN target USING (docid)
         |  WHERE t.term <> '$CooccurTerm' GROUP BY t.term
         |)
         |SELECT term, n_docs FROM co
         |ORDER BY n_docs DESC, term LIMIT 20""".stripMargin,
    "q_count" ->
      s"""$P SELECT CAST(count(*) AS BIGINT) AS n_matches FROM (
         |  SELECT docid FROM tok WHERE term IN (${inList(AndTerms)})
         |  GROUP BY docid HAVING count(DISTINCT term) = ${AndTerms.length})""".stripMargin,
    "q_near_query" -> bm25Sql(Seq(NearTerms._1, NearTerms._2), 10,
      s"""WHERE docid IN (SELECT a.docid FROM tok a
         |  JOIN tok b ON a.docid = b.docid AND abs(a.pos - b.pos) <= $NearWindow
         |  WHERE a.term = '${NearTerms._1}' AND b.term = '${NearTerms._2}')""".stripMargin),
    // the oracle derives the prefix expansion ITSELF (LIKE over the token
    // dictionary), like suffix/fuzzy — a hardcoded term list would
    // silently diverge if the corpus grew a new 's'-term (ADVICE r03)
    "q_prefix_query" -> bm25SqlWhere(
      s"term IN (SELECT DISTINCT term FROM tok WHERE term LIKE '$PrefixLit%')", 10),
    "q_suffix_query" -> bm25SqlWhere("term LIKE '%ow'", 10),
    // persisted-index suffix path must produce the identical result set
    "q_suffix_rev" -> bm25SqlWhere("term LIKE '%ow'", 10),
    // lineage rollup: both encode stages saw every document exactly once
    "q_lineage" ->
      """SELECT stage, n_rows FROM (
        |  SELECT 'postings' AS stage, CAST(count(*) AS BIGINT) AS n_rows FROM documents
        |  UNION ALL
        |  SELECT 'trigrams' AS stage, CAST(count(*) AS BIGINT) AS n_rows FROM documents)""".stripMargin,
    "q_fuzzy_query" -> bm25SqlWhere(
      "term IN (SELECT DISTINCT term FROM tok WHERE levenshtein(term, 'sow') <= 1)", 10),
    "q_suggest" ->
      s"""$P SELECT term, CAST(levenshtein(term, 'kay') AS INT) AS dist,
         |  count(DISTINCT docid) AS df
         |FROM tok GROUP BY term
         |HAVING levenshtein(term, 'kay') <= 2
         |ORDER BY dist ASC, df DESC, term ASC
         |LIMIT 5""".stripMargin,
    "q_more_like_this" -> bm25SqlWhere(
      s"""term IN (SELECT u.term
         |  FROM (SELECT term, count(*) AS stf FROM tok
         |        WHERE docid = $MltSeedDoc GROUP BY 1) u
         |  JOIN (SELECT term, count(DISTINCT docid) AS sdf FROM tok
         |        GROUP BY 1) v USING (term)
         |  ORDER BY u.stf DESC, v.sdf ASC, u.term ASC LIMIT $MltTerms)""".stripMargin,
      10, s"WHERE docid <> $MltSeedDoc"),
    "q_result_stats" ->
      s"""$P, tf AS (
         |  SELECT term, docid, count(*) AS c FROM tok
         |  WHERE term IN ('$GroupQuery') GROUP BY 1, 2
         |), dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |dls AS (SELECT docid, len(l) AS dl FROM toks),
         |stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM ids) AS n,
         |                 (SELECT avg(len(l)) FROM toks) AS avgdl),
         |scored AS (
         |  SELECT docid, sum($bm25Score) AS sc
         |  FROM tf JOIN dfs USING (term) JOIN dls USING (docid), stats
         |  GROUP BY docid
         |), ranked AS (
         |  SELECT i.source, s.docid, s.sc,
         |    row_number() OVER (PARTITION BY i.source ORDER BY s.sc DESC, s.docid ASC) AS rn,
         |    count(*) OVER (PARTITION BY i.source) AS nm
         |  FROM scored s JOIN ids i USING (docid)
         |)
         |SELECT source, CAST(nm AS BIGINT) AS n_matches, docid AS best_docid,
         |  round(CAST(sc AS DOUBLE), 5) AS best_score
         |FROM ranked WHERE rn = 1 ORDER BY source""".stripMargin,
    "q_phrase" ->
      s"""$P SELECT DISTINCT a.docid FROM tok a
         |JOIN tok b ON a.docid = b.docid AND b.pos = a.pos + 1
         |WHERE a.term = '${PhraseTerms(0)}' AND b.term = '${PhraseTerms(1)}'
         |ORDER BY a.docid""".stripMargin,
    "q_substring" ->
      s"""$P SELECT docid FROM ids WHERE strpos(text, '$SubstringLit') > 0
         |ORDER BY docid""".stripMargin,
    "q_substring_nocase" ->
      s"""$P SELECT docid FROM ids
         |WHERE strpos(lower(text), '${SubstringNoCaseLit.toLowerCase}') > 0
         |ORDER BY docid""".stripMargin,
    "q_regexp" ->
      s"""$P SELECT docid FROM ids WHERE regexp_matches(text, '$RegexPattern')
         |ORDER BY docid""".stripMargin,
    "q_regexp_nocase" ->
      s"""$P SELECT docid FROM ids WHERE regexp_matches(text, '$RegexNoCasePattern')
         |ORDER BY docid""".stripMargin,
    "q_bool_mixed" -> bm25Sql(Seq("data", "dup", "table", "vector"), 10,
      """WHERE docid IN (
        |  SELECT docid FROM tok WHERE term IN ('data', 'table')
        |  GROUP BY docid HAVING count(DISTINCT term) = 2
        |  UNION
        |  SELECT docid FROM tok WHERE term IN ('dup', 'vector')
        |  GROUP BY docid HAVING count(DISTINCT term) = 2
        |)""".stripMargin),
    "q_path_filter" -> bm25Sql(Seq("dup"), 10,
      """WHERE docid IN (SELECT docid FROM ids
        |  WHERE regexp_matches('doc' || lpad(CAST(doc_id AS VARCHAR), 12, '0'), '[0-5]$'))""".stripMargin),
    "q_trigram_postings" ->
      s"""$P, tris AS (
         |  SELECT i.docid, substr(hex(encode(i.text)), CAST(2 * u.i - 1 AS INT), 6) AS tri
         |  FROM ids i, LATERAL (SELECT unnest(range(1, octet_length(encode(i.text)) - 1)) AS i) u
         |)
         |SELECT tri, docid FROM tris
         |WHERE tri IN (${inList(TriLiterals.map(t => graft.functions.Text.trigramHex(triOf(t))))})
         |GROUP BY tri, docid ORDER BY tri, docid""".stripMargin,
    "q_merge_termstats" ->
      s"""$P, tf AS (SELECT term, docid, count(*) AS c FROM tok GROUP BY 1, 2)
         |SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(c) AS BIGINT) AS cf,
         |       CAST(max(c) AS INT) AS max_tf
         |FROM tf GROUP BY term ORDER BY term""".stripMargin,
    "q_merge_concat" ->
      s"""$P, tf AS (SELECT term, docid, count(*) AS c FROM tok GROUP BY 1, 2)
         |SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(c) AS BIGINT) AS cf,
         |       CAST(max(c) AS INT) AS max_tf
         |FROM tf GROUP BY term ORDER BY term""".stripMargin,
    "q_lang_filter" ->
      bm25Sql(Seq("dup"), 10,
        "WHERE docid IN (SELECT docid FROM ids WHERE lang = 'de')"),
    "q_neg_filter" ->
      bm25Sql(Seq("dup"), 10,
        "WHERE docid IN (SELECT docid FROM ids WHERE lang <> 'de')"),
    "q_page" ->
      s"""$P, tf AS (
         |  SELECT term, docid, count(*) AS c FROM tok
         |  WHERE term IN ('data') GROUP BY 1, 2
         |), dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |dls AS (SELECT docid, len(l) AS dl FROM toks),
         |stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM ids) AS n,
         |                 (SELECT avg(len(l)) FROM toks) AS avgdl),
         |scored AS (
         |  SELECT docid, sum($bm25Score) AS sc
         |  FROM tf JOIN dfs USING (term) JOIN dls USING (docid), stats
         |  GROUP BY docid
         |), ranked AS (
         |  SELECT docid, sc,
         |    CAST(row_number() OVER (ORDER BY sc DESC, docid ASC) AS INT) AS rank
         |  FROM scored
         |)
         |SELECT r.docid, 'doc' || lpad(CAST(i.doc_id AS VARCHAR), 12, '0') AS url,
         |  round(CAST(r.sc AS DOUBLE), 5) AS score, r.rank
         |FROM ranked r JOIN ids i USING (docid)
         |WHERE r.rank > 5 AND r.rank <= 10 ORDER BY r.rank""".stripMargin,
    "q_topk_per_source" ->
      s"""$P, tf AS (
         |  SELECT term, docid, count(*) AS c FROM tok
         |  WHERE term IN ('data', 'dup') GROUP BY 1, 2
         |), dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |dls AS (SELECT docid, len(l) AS dl FROM toks),
         |stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM ids) AS n,
         |                 (SELECT avg(len(l)) FROM toks) AS avgdl),
         |scored AS (
         |  SELECT docid, sum($bm25Score) AS sc
         |  FROM tf JOIN dfs USING (term) JOIN dls USING (docid), stats
         |  GROUP BY docid
         |), ranked AS (
         |  SELECT i.source, s.docid, s.sc,
         |    CAST(row_number() OVER (PARTITION BY i.source ORDER BY s.sc DESC, s.docid ASC) AS INT) AS rn
         |  FROM scored s JOIN ids i USING (docid)
         |)
         |SELECT source, docid, round(CAST(sc AS DOUBLE), 5) AS score, rn
         |FROM ranked WHERE rn <= 2 ORDER BY source, rn""".stripMargin,
    "q_grep_context" ->
      s"""$P SELECT docid, 1 AS line_no, text AS line,
         |  0 AS n_before, 0 AS n_after
         |FROM ids WHERE regexp_matches(text, 'dup')
         |ORDER BY docid, line_no""".stripMargin,
    "q_snippet" ->
      s"""$P, L AS (
         |  SELECT docid, string_split(text, chr(10)) AS ls
         |  FROM ids WHERE strpos(text, 'dup') > 0
         |), M AS (
         |  SELECT docid, ls,
         |    (SELECT min(u.i) FROM (SELECT unnest(ls) AS l, generate_subscripts(ls, 1) AS i) u
         |     WHERE strpos(u.l, 'dup') > 0) AS m
         |  FROM L
         |)
         |SELECT docid, CAST(m AS INT) AS line_no,
         |  array_to_string(ls[greatest(m - 2, 1):least(m + 2, len(ls))], chr(10)) AS snippet
         |FROM M ORDER BY docid""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, CAST(min(doc_id) AS BIGINT) AS keep_id,
        |       CAST(count(*) AS BIGINT) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_minhash_bands" -> {
      // doc_id is dense at every sf (verified), so shing.id == doc_id
      val mins = (0 until 16).map(i => s"min(md5('seed$i:' || sh)) AS h$i").mkString(", ")
      val bandRows = (0 until 4).map { b =>
        val sig = (0 until 4).map(r => s"h${b * 4 + r}").mkString(" || '|' || ")
        s"SELECT id, $b AS band, $sig AS sig FROM mh"
      }.mkString(" UNION ALL ")
      s"""$P$shingCte, mh AS (
         |  SELECT id, $mins FROM shing GROUP BY id
         |)
         |SELECT id, band, sig FROM ($bandRows) ORDER BY id, band""".stripMargin
    },
    "q_ngram_jaccard" ->
      s"""$P$shingCte, sizes AS (SELECT id, count(*) AS sz FROM shing GROUP BY 1),
         |inter AS (
         |  SELECT a.id AS id1, b.id AS id2, count(*) AS cnt
         |  FROM shing a JOIN shing b ON a.sh = b.sh AND a.id < b.id
         |  GROUP BY 1, 2
         |)
         |SELECT id1, id2,
         |  round(CAST(cnt AS DOUBLE) / (s1.sz + s2.sz - cnt), 5) AS jaccard
         |FROM inter
         |JOIN sizes s1 ON s1.id = id1 JOIN sizes s2 ON s2.id = id2
         |WHERE CAST(cnt AS DOUBLE) / (s1.sz + s2.sz - cnt) >= 0.2
         |ORDER BY id1, id2""".stripMargin,
    "q_lsh_jaccard" -> {
      val mins = (0 until 16).map(i => s"min(md5('seed$i:' || sh)) AS h$i").mkString(", ")
      val bandRows = (0 until 4).map { b =>
        val sig = (0 until 4).map(r => s"h${b * 4 + r}").mkString(" || '|' || ")
        s"SELECT id, $b AS band, $sig AS sig FROM mh"
      }.mkString(" UNION ALL ")
      s"""$P$shingCte, mh AS (
         |  SELECT id, $mins FROM shing GROUP BY id
         |), bandrows AS ($bandRows),
         |pairs AS (
         |  SELECT DISTINCT a.id AS id1, b.id AS id2
         |  FROM bandrows a JOIN bandrows b ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
         |), sizes AS (SELECT id, count(*) AS sz FROM shing GROUP BY 1),
         |inter AS (
         |  SELECT p.id1, p.id2, count(*) AS cnt
         |  FROM pairs p JOIN shing a ON a.id = p.id1 JOIN shing b ON b.id = p.id2 AND b.sh = a.sh
         |  GROUP BY 1, 2
         |)
         |SELECT id1, id2, round(CAST(cnt AS DOUBLE) / (s1.sz + s2.sz - cnt), 5) AS jaccard
         |FROM inter JOIN sizes s1 ON s1.id = id1 JOIN sizes s2 ON s2.id = id2
         |WHERE CAST(cnt AS DOUBLE) / (s1.sz + s2.sz - cnt) >= 0.2
         |ORDER BY id1, id2""".stripMargin
    },
    "q_simhash" -> simhashSql,
    "q_ann_cosine" ->
      s"""$annFlat, dots AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.v * b.v) AS dot
         |  FROM flat a JOIN flat b ON a.i = b.i
         |  WHERE a.vec_id < 5 AND b.vec_id <> a.vec_id
         |  GROUP BY 1, 2
         |), scored AS (
         |  SELECT qid, cid, round(CAST(dot / (nq.nrm * nc.nrm) AS DOUBLE), 5) AS cosine
         |  FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid
         |), ranked AS (
         |  SELECT qid, cid, cosine,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS INT) AS rank
         |  FROM scored
         |)
         |SELECT qid, cid, cosine, rank FROM ranked WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin,
    "q_lsh_ann" -> {
      val bucket = lshBucketSql("embedding", 64, 6)
      s"""$annFlat, buck AS (
         |  SELECT vec_id, $bucket AS bucket FROM embeddings
         |), dots AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.v * b.v) AS dot
         |  FROM flat a JOIN flat b ON a.i = b.i
         |  JOIN buck ba ON ba.vec_id = a.vec_id JOIN buck bb ON bb.vec_id = b.vec_id
         |  WHERE a.vec_id < 5 AND b.vec_id <> a.vec_id AND ba.bucket = bb.bucket
         |  GROUP BY 1, 2
         |), scored AS (
         |  SELECT qid, cid, round(CAST(dot / (nq.nrm * nc.nrm) AS DOUBLE), 5) AS cosine
         |  FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid
         |), ranked AS (
         |  SELECT qid, cid, cosine,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS INT) AS rank
         |  FROM scored
         |)
         |SELECT qid, cid, cosine, rank FROM ranked WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin
    },
    "q_embed_neardup" ->
      s"""$annFlat, dots AS (
         |  SELECT a.vec_id AS id1, b.vec_id AS id2, sum(a.v * b.v) AS dot
         |  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
         |  GROUP BY 1, 2
         |)
         |SELECT id1, id2, round(CAST(dot / (nx.nrm * ny.nrm) AS DOUBLE), 5) AS cosine
         |FROM dots JOIN norms nx ON nx.vec_id = id1 JOIN norms ny ON ny.vec_id = id2
         |WHERE dot / (nx.nrm * ny.nrm) >= 0.4
         |ORDER BY id1, id2""".stripMargin,
    "q_ivf_ann" -> ivfSql(Similarity.ivfAnchors(64, 8), nprobe = 2),
    "q_embed_neardup_lsh" -> {
      val bucket = lshBucketSql("embedding", 64, 6)
      s"""$annFlat, buck AS (
         |  SELECT vec_id, $bucket AS bucket FROM embeddings
         |), dots AS (
         |  SELECT a.vec_id AS id1, b.vec_id AS id2, sum(a.v * b.v) AS dot
         |  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
         |  JOIN buck ba ON ba.vec_id = a.vec_id
         |  JOIN buck bb ON bb.vec_id = b.vec_id AND ba.bucket = bb.bucket
         |  GROUP BY 1, 2
         |)
         |SELECT id1, id2, round(CAST(dot / (nx.nrm * ny.nrm) AS DOUBLE), 5) AS cosine
         |FROM dots JOIN norms nx ON nx.vec_id = id1 JOIN norms ny ON ny.vec_id = id2
         |WHERE dot / (nx.nrm * ny.nrm) >= 0.4
         |ORDER BY id1, id2""".stripMargin
    },
    "q_event_windows" ->
      """SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start_us,
        |  event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  round(CAST(sum(value) AS DOUBLE), 5) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), f AS (
        |  SELECT *, CASE WHEN prev IS NULL OR ts - prev > INTERVAL '30 minutes'
        |    THEN 1 ELSE 0 END AS news
        |  FROM e
        |), g AS (
        |  SELECT *, CAST(sum(news) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session
        |  FROM f
        |)
        |SELECT user_id, session, epoch_us(min(ts)) AS session_start_us,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(CAST(sum(value) AS DOUBLE), 5) AS total_value
        |FROM g GROUP BY user_id, session ORDER BY user_id, session""".stripMargin,
    "q_newest_version" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_langid" -> langidSql,
    "q_quality" -> {
      val stops = inList(TextAnalysis.stopwords.values.flatten.toSeq.distinct)
      s"""$P, agg AS (
         |  SELECT docid, count(*) AS ntok, sum(len(term)) AS sumlen,
         |    sum(CASE WHEN term IN ($stops) THEN 1 ELSE 0 END) AS nstop
         |  FROM tok GROUP BY docid
         |)
         |SELECT i.docid,
         |  CAST(len(i.text) AS INT) AS n_chars_m,
         |  CAST(coalesce(a.ntok, 0) AS INT) AS n_tokens,
         |  round(CAST(coalesce(a.sumlen, 0) AS DOUBLE) / greatest(CAST(coalesce(a.ntok, 0) AS DOUBLE), 1.0), 5) AS mean_tok_len,
         |  round(CAST(coalesce(a.nstop, 0) AS DOUBLE) / greatest(CAST(coalesce(a.ntok, 0) AS DOUBLE), 1.0), 5) AS stop_ratio,
         |  round(CAST(len(i.text) - len(regexp_replace(i.text, '[0-9]', '', 'g')) AS DOUBLE) / greatest(CAST(len(i.text) AS DOUBLE), 1.0), 5) AS digit_ratio,
         |  round(CAST(len(i.text) - len(regexp_replace(i.text, '[.,;:!?]', '', 'g')) AS DOUBLE) / greatest(CAST(len(i.text) AS DOUBLE), 1.0), 5) AS punct_ratio,
         |  (len(i.text) >= 50 AND coalesce(a.ntok, 0) >= 10
         |    AND CAST(coalesce(a.sumlen, 0) AS DOUBLE) / greatest(CAST(coalesce(a.ntok, 0) AS DOUBLE), 1.0) >= 2.0
         |    AND CAST(coalesce(a.sumlen, 0) AS DOUBLE) / greatest(CAST(coalesce(a.ntok, 0) AS DOUBLE), 1.0) <= 12.0
         |    AND CAST(len(i.text) - len(regexp_replace(i.text, '[0-9]', '', 'g')) AS DOUBLE) / greatest(CAST(len(i.text) AS DOUBLE), 1.0) < 0.3) AS keep
         |FROM ids i LEFT JOIN agg a USING (docid) ORDER BY i.docid""".stripMargin
    },
    "q_token_counts" ->
      s"""$P, bpe AS (
         |  SELECT docid, CAST(sum(ceil(len(term) / 6.0)) AS BIGINT) AS b FROM tok GROUP BY docid
         |)
         |SELECT i.docid,
         |  CAST(len(list_filter(regexp_split_to_array(i.text, '\\s+'), x -> x <> '')) AS INT) AS ws_tokens,
         |  CAST(coalesce(bpe.b, 0) AS BIGINT) AS bpe_est_tokens
         |FROM ids i LEFT JOIN bpe USING (docid) ORDER BY i.docid""".stripMargin,
    "q_fingerprint" ->
      s"""$P SELECT i.docid,
         |  min(md5(substr(lower(i.text), CAST(u.i AS INT), 8))) AS fingerprint
         |FROM ids i, LATERAL (SELECT unnest(range(1, greatest(len(i.text) - 7, 1) + 1)) AS i) u
         |GROUP BY i.docid ORDER BY i.docid""".stripMargin,
    "q_media_features" ->
      s"""$P SELECT docid AS id,
         |  CASE CAST(docid % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
         |  md5(text) AS sha
         |FROM ids ORDER BY id""".stripMargin,
    // ceil-division frame count (partial tail frame sampled too — see
    // Multimodal.sampleFrames); sampled frames are all full except the
    // LAST frame (index nf-1), which is short by 256·nf − nb bytes and is
    // sampled iff (nf−1) % 4 = 0
    "q_frame_sample" ->
      s"""$P, vids AS (
         |  SELECT docid AS id, octet_length(encode(text)) AS nb FROM ids WHERE docid % 3 = 2
         |), calc AS (
         |  SELECT id, nb, greatest((nb + 255) // 256, 1) AS nf FROM vids
         |)
         |SELECT id, CAST((nf + 3) // 4 AS BIGINT) AS n_frames,
         |  CAST(((nf + 3) // 4) * 256 -
         |    CASE WHEN (nf - 1) % 4 = 0 THEN 256 * nf - nb ELSE 0 END
         |    AS BIGINT) AS bytes_sampled
         |FROM calc ORDER BY id""".stripMargin
  )
  // q_ivf_trained inlines the k-means-trained centroids, which exist
  // only after the query has run in this JVM (Verify runs every query
  // before dumping oracle_sql.json). If it never ran, the entry is
  // omitted → the driver records a weaker rows-only check.
}
