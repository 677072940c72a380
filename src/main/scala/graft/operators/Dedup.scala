package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators.
  *
  * All hash primitives are built from `md5` (available identically in
  * Spark and DuckDB) so every operator stays oracle-checkable by SQL.
  * Everything is expressed as DataFrame transforms — one shuffle per
  * groupBy/join, broadcast where one side is small, no driver loops.
  */
object Dedup {

  /** Exact dedup by content hash: canonical representative = min doc id
    * per identical text (hash-groupBy; one shuffle on the hash). */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .withColumn("text_hash", md5(col(textCol)))
      .groupBy("text_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Word n-gram shingles over a PRE-MATERIALIZED tokens column.
    * Taking the tokens as a column (not recomputing split() inside the
    * lambda) matters: Catalyst inlines lambda-captured expressions, so a
    * `size(split(...))` inside `transform` re-splits the text once per
    * array element — O(n²) work per document.
    *
    * REFERENCE form, kept as the spec oracle for the native expression:
    * hot paths call [[nativeShingles]] instead — HOF lambdas evaluate
    * interpreted per element, and this chain alone measured ~9 s of the
    * sf0.1 q_lsh_jaccard (r06; ShingleExprSpec pins the identity). */
  def shinglesOf(toksCol: Column, n: Int): Column =
    array_distinct(
      filter(
        transform(toksCol, (_, i) =>
          when(i <= size(toksCol) - n,
            concat_ws(" ", slice(toksCol, i + 1, lit(n))))),
        s => s.isNotNull))

  /** [[shinglesOf]] as ONE codegen'd row-level loop (`graft_shingles`,
    * [[graft.plans.WordShingles]]) — identical output. Callers must have
    * run `GraftFunctions.register` on the session. */
  def nativeShingles(toksCol: Column, n: Int): Column =
    call_function("graft_shingles", toksCol, lit(n))

  def tokensOf(textCol: Column): Column = graft.functions.Text.tokensCol(textCol)

  /** Word n-gram shingles of a document (lowercased [a-z0-9] tokens). */
  def shingles(textCol: Column, n: Int): Column = shinglesOf(tokensOf(textCol), n)

  /** MinHash signatures: k independent permutations simulated by
    * min(md5(seed || shingle)). Returns (id, band, minhash-concat) rows
    * banded for LSH: docs sharing any band bucket are near-dup candidates.
    * Band join is an equi-join on (band, sig) — broadcast-free, shuffles
    * only the small signature table. */
  /** Exploded (id, shingle) table — shared by the minhash and the
    * verification stages so a composed pipeline shingles exactly once. */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    docs
      .withColumn("__toks", tokensOf(col(textCol)))
      .select(col(idCol).as("id"), explode(nativeShingles(col("__toks"), shingleN)).as("sh"))
  }

  /** Banded rows from a per-doc signature table with columns id, h0..hN. */
  private def bandRows(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|", (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*).as("sig"))
    }
    sig.select(col("id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** MinHash signature computed PER ROW over the shingle array — a pure
    * map stage, zero shuffle: at 100 TB the signature pass streams the
    * corpus once with no exchange at all, where an explode→groupBy
    * formulation shuffles ~10× the corpus in exploded shingle rows (and
    * measurably regressed the sf0.1 bench 0.2 → 0.8 s when r03 rerouted
    * it that way — VERDICT r03 #3; this restores the map-only shape for
    * the signature while the verification stages keep the exploded
    * table). Docs with no shingles produce no signature, matching the
    * groupBy semantics. */
  def minhashBands(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    // explode(array(..)) is a MATERIALIZATION BARRIER, not a fan-out: a
    // Generate is the one operator CollapseProject will not inline
    // expressions across. Without it the size() filter below and the
    // minhash would each inline (and so re-run) the whole shingle
    // computation; with it `__sh` is a materialized attribute computed
    // once per row.
    val withSh = docs
      .withColumn("__toks", tokensOf(col(textCol)))
      .select(col(idCol).as("id"),
        explode(array(nativeShingles(col("__toks"), shingleN))).as("__sh"))
      .filter(size(col("__sh")) > 0)
    // all k MinHash values in ONE pass over the shingle array
    // (graft_minhash) instead of k interpreted array_min(transform(md5))
    // trees per row — element i is bit-identical to
    // array_min(transform(__sh, x => md5(concat('seed<i>:', x)))) (r06;
    // ShingleExprSpec pins the identity)
    // NO barrier around the minhash call, deliberately: CollapseProject
    // inlines `__h` into the k getItem projections, but graft_minhash is
    // a deterministic codegen expression, so whole-stage codegen's
    // subexpression elimination evaluates it ONCE per row (unlike the
    // interpreted HOF chains, which are excluded from codegen CSE and
    // needed the explode(array(..)) barrier above). Keeping it inline
    // also keeps the hash computation PRUNABLE: a consumer that never
    // reads the signatures (e.g. a bare count) skips the md5 work
    // entirely, which a Generate barrier would forbid.
    val withH = withSh.select(col("id"),
      call_function("graft_minhash", col("__sh"), lit(numHashes)).as("__h"))
    val sig = withH.select(col("id") +:
      (0 until numHashes).map(i => col("__h").getItem(i).as(s"h$i")): _*)
    bandRows(sig, numHashes, bands)
  }

  private def pairsOfBands(b: DataFrame): DataFrame = {
    // the band table feeds BOTH sides of the self-join — the CALLER must
    // persist it (and unpersist after materializing downstream), else the
    // 16-hash min-aggregation upstream runs twice
    val l = b.select(col("band"), col("sig"), col("id").as("id1"))
    val r = b.select(col("band"), col("sig"), col("id").as("id2"))
    l.join(r, Seq("band", "sig"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** LSH candidate pairs from banded minhash signatures (id1 < id2).
    * The pair table (small) is materialized via localCheckpoint so the
    * band cache can be released before returning — repeated calls in a
    * long-lived session must not accumulate cached partitions.
    *
    * localCheckpoint trade-off (here and in [[lshJaccard]]/
    * [[ngramJaccard]], ADVICE r03): the result materializes EAGERLY at
    * call time and its lineage is truncated — losing an executor after
    * the checkpoint fails the job instead of recomputing. That is the
    * right trade for a bench/serving session (it guarantees the upstream
    * caches release); a long fault-domain batch run at cluster scale
    * should replace it with `checkpoint()` on a reliable checkpoint dir,
    * which is a one-line swap at the call sites marked below. */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val b = minhashBands(docs, idCol, textCol, shingleN, numHashes, bands).cache()
    val out = pairsOfBands(b).localCheckpoint(true)
    b.unpersist()
    out
  }

  /** The composed 100 TB near-dup pipeline: MinHash+LSH candidate pairs →
    * exact n-gram-Jaccard verification restricted to those pairs. The only
    * self-join is the banded signature equi-join; the shingle table is
    * computed once and reused by both stages. Candidates whose true
    * Jaccard < threshold are dropped (precision 1 given candidates;
    * recall bounded by the band collision probability). */
  /** `materialize = false` skips the eager localCheckpoint (and the band
    * cache/unpersist discipline tied to it) so the FULL pipeline plan is
    * inspectable via explain — plan-audit/debug use only; production
    * callers keep the default. */
  def lshJaccard(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, materialize: Boolean = true): DataFrame = {
    // Verification runs on per-doc DISTINCT shingle ARRAYS, not the
    // exploded (id, shingle) table (r06): attaching the two arrays to
    // each candidate pair and intersecting them natively
    // (array_intersect — one hash-set probe per element, codegen'd)
    // computes the same |A∩B| and |A|/|B| as the old
    // explode → join-on-(id2,sh) → count pipeline, while shuffling the
    // shingle payload ONCE (the arr table by id) instead of twice (the
    // 10×-wider exploded table by id1 AND by (id2, sh)) and dropping the
    // pair-count aggregation shuffle and the DISK_ONLY shingle persist
    // entirely. The arr map stage is recomputed for each join side —
    // tokenize+shingle is a pure map, cheaper than persisting ~10× the
    // corpus. Semantics unchanged: shinglesOf is array_distinct'd, so
    // |arr| equals the old per-id row count and the Jaccard is identical.
    graft.plans.GraftFunctions.register(docs.sparkSession)
    val arr = docs
      .withColumn("__toks", tokensOf(col(textCol)))
      .select(col(idCol).as("id"), nativeShingles(col("__toks"), shingleN).as("arr"))
    // the signature stage stays the row-wise map (no exploded-table
    // groupBy shuffle — see minhashBands)
    val bandTable0 = minhashBands(docs, idCol, textCol, shingleN, numHashes, bands)
    val bandTable = if (materialize) bandTable0.cache() else bandTable0
    val pipeline = pairsOfBands(bandTable)
      .join(arr.select(col("id").as("id1"), col("arr").as("arr1")), "id1")
      .join(arr.select(col("id").as("id2"), col("arr").as("arr2")), "id2")
      .withColumn("inter", size(array_intersect(col("arr1"), col("arr2"))))
      // only pairs sharing a shingle, as the shingle join used to give:
      // at threshold <= 0 a zero-overlap pair would pass j_raw >= threshold
      .filter(col("inter") > 0)
      .withColumn("j_raw",
        col("inter") / (size(col("arr1")) + size(col("arr2")) - col("inter")))
      .filter(col("j_raw") >= threshold)
      .select(col("id1"), col("id2"), round(col("j_raw"), 5).as("jaccard"))
    if (!materialize) return pipeline
    val result = pipeline
      .localCheckpoint(true) // release the band cache before returning
    bandTable.unpersist()
    result
  }

  /** Exact n-gram Jaccard similarity for candidate pairs (verification
    * stage after LSH, or standalone for small N): explode shingles,
    * self-join on shingle, |A∩B| / (|A|+|B|-|A∩B|).
    *
    * Deliberately KEPT in the exploded + groupBy-count form (shingling
    * itself runs through the native graft_shingles kernel): in the
    * all-pairs regime the per-pair work here is Σ|shared shingles| —
    * an r06 attempt to reuse lshJaccard's per-pair array_intersect
    * verification instead paid O(|A|+|B|) for EVERY candidate pair and
    * measured 2.8 → 8.6 s on the sf0.1 bench (most candidate pairs share
    * only a few shingles); reverted. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = shingleTable(docs, idCol, textCol, shingleN)
      .cache() // used by both the sizes and the pair-intersection branch
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = sh.select(col("id").as("id1"), col("sh"))
      .join(sh.select(col("id").as("id2"), col("sh")), "sh")
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
    val result = inter
      .join(sizes.select(col("id").as("id1"), col("sz").as("sz1")), "id1")
      .join(sizes.select(col("id").as("id2"), col("sz").as("sz2")), "id2")
      .withColumn("j_raw", col("inter") / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("j_raw") >= threshold) // filter on the raw value; round only for output
      .select(col("id1"), col("id2"), round(col("j_raw"), 5).as("jaccard"))
      .localCheckpoint(true) // release the shingle cache before returning
    sh.unpersist()
    result
  }

  /** Embedding-cosine near-dup pairs via LSH buckets — an explicit name
    * for the default path of [[embeddingNearDup]], for call sites that
    * want the recall<1 semantics visible. */
  def embeddingNearDupLsh(emb: DataFrame, threshold: Double,
      dim: Int = 64, planes: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    embeddingNearDup(emb, threshold, exact = false, dim, planes, idCol, vecCol)

  /** Embedding-cosine near-duplicate pairs: (id1 < id2, cosine ≥ threshold).
    * The DEFAULT is the LSH-bucketed path (`exact = false`): candidates are
    * restricted to matching random-hyperplane buckets — an equi-join
    * shuffle instead of a cross join, the only shape that survives 10⁹
    * vectors (recall < 1 by construction; add plane rotations for more).
    * `exact = true` is the O(n²) all-pairs verification-grade baseline —
    * for oracles and small partitions only.
    *
    * NOTE (r02 semantic change, ADVICE r02): the default flipped from
    * exact=true to exact=false. Callers that need the exhaustive pair set
    * must pass `exact = true` explicitly — or call [[embeddingNearDupLsh]]
    * to make the approximate semantics explicit at the call site. */
  def embeddingNearDup(emb: DataFrame, threshold: Double, exact: Boolean = false,
      dim: Int = 64, planes: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    graft.plans.GraftFunctions.register(emb.sparkSession)
    val v = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      // norms hoisted to one column per VECTOR (not per pair): identical
      // arithmetic, and the native graft_dot loop avoids the per-pair
      // zipped-array allocation that dominated the exact baseline
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
    val withBucket =
      if (exact) v.withColumn("bucket", lit(0))
      else v.withColumn("bucket", Similarity.lshBucket(col("v"), Similarity.hyperplanes(dim, planes)))
    val l = withBucket.select(col("bucket"), col("id").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
    val r = withBucket.select(col("bucket"), col("id").as("id2"), col("v").as("v2"), col("nrm").as("n2"))
    val dotp = call_function("graft_dot", col("v1"), col("v2"))
    l.join(r, Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos_raw", dotp / (col("n1") * col("n2")))
      .filter(col("cos_raw") >= threshold)
      .select(col("id1"), col("id2"), round(col("cos_raw"), 5).as("cosine"))
  }

  /** SimHash (64-bit, as two 32-bit halves to stay in exact integer range
    * for the SQL oracle): per token, 64 pseudo-random bits derived from
    * md5 hex nibbles; per-bit weighted vote by token count; sign of the
    * vote is the fingerprint bit. Near-dups = small Hamming distance. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(tokensOf(col(textCol))).as("tok"))
    val tf = toks.groupBy("id", "tok").agg(count(lit(1)).as("w"))
      .withColumn("h", md5(col("tok")))
    // bit i of the token hash = bit (i%4) of hex nibble i/4
    val bitCols = (0 until 64).map { i =>
      val nibble = conv(substring(col("h"), i / 4 + 1, 1), 16, 10).cast("int")
      sum(when(nibble.bitwiseAND(lit(1 << (i % 4))) > 0, col("w"))
        .otherwise(-col("w"))).as(s"b$i")
    }
    val votes = tf.groupBy("id").agg(bitCols.head, bitCols.tail: _*)
    val lo = (0 until 32).map(i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    val hi = (32 until 64).map(i =>
      when(col(s"b$i") > 0, lit(1L << (i - 32))).otherwise(lit(0L))).reduce(_ + _)
    votes.select(col("id"), lo.as("simhash_lo"), hi.as("simhash_hi"))
  }

  /** Newest-version dedup (the dcs X10 analogue — keep only the latest
    * crawl of each url / latest event of each key): max ts per key, ties
    * broken by the highest tiebreak column. One shuffle (window by key). */
  def newestVersion(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col(tsCol).desc, col(tieCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
