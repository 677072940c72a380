package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.TaskContext

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

import graft.functions.{Text, Varint}

/** A built (or loaded) index: handles to the five index tables + meta.
  * The on-disk layout is one directory with parquet subdirs — the
  * analogue of a dcs index shard directory (`howto/index.md:71-80`),
  * committed stage-by-stage with marker files for resumability.
  */
final case class BuiltIndex(
    meta: IndexMeta,
    docmap: Dataset[DocEntry],
    docnorms: Dataset[DocNorms],
    postings: Dataset[PostingBlock],
    trigrams: Option[Dataset[TriBlock]],
    termstats: Dataset[TermStats],
    /** Reversed-term dictionary (rev = reverse(term), globally sorted by
      * rev on disk) — the classic reverse-wildcard trick: a suffix
      * wildcard `*fix` becomes a PREFIX range on `rev`, which pushes down
      * to the parquet scan as StringStartsWith and prunes files/row
      * groups via the rev min/max stats, exactly like [[Search.expandPrefix]]
      * on the forward dictionary. None on in-memory builds (suffix falls
      * back to the documented O(vocabulary) dictionary scan). */
    revdict: Option[DataFrame] = None,
    /** Deletion-neighborhood dictionary (key = a string obtained from some
      * term by deleting up to [[IndexBuilder.DelDictMaxDist]] chars; one
      * (key, term) row per variant, globally sorted by key on disk — the
      * FastSS/SymSpell scheme, see [[graft.functions.Text.deletionVariants]]).
      * Lets fuzzy lookup and spell suggestion run as O(|query variants|)
      * point lookups with parquet min/max pruning instead of the
      * O(vocabulary) levenshtein scan. None on in-memory builds (fuzzy/
      * suggest fall back to the documented dictionary scan). */
    deldict: Option[DataFrame] = None) {

  def cache(): BuiltIndex = {
    docmap.cache(); docnorms.cache(); postings.cache(); termstats.cache()
    trigrams.foreach(_.cache()); revdict.foreach(_.cache()); deldict.foreach(_.cache())
    this
  }

  /** Driver-side per-term stats memo: a termstats `collect()` job used to
    * precede EVERY topK/topKAnd/scoreDocs/topKBatch call — one of the
    * ~50 ms job dispatches that set the interactive-query latency floor
    * (BENCH/BASELINE.md §3). Terms memoize per BuiltIndex (negative
    * lookups too, as None), so repeat queries skip the job entirely;
    * memory is O(distinct queried terms), never O(vocabulary). */
  @transient private lazy val statsMemo =
    scala.collection.concurrent.TrieMap.empty[String, Option[TermStats]]

  /** Stats for `terms` (absent terms omitted); one bounded collect() for
    * the not-yet-memoized subset, no job when everything is cached.
    * The memo is size-capped (ADVICE r05): a long-lived driver serving
    * unique/misspelled terms must not grow it without bound — past the
    * cap, lookups still work but stop inserting (repeat queries of
    * capped-out terms re-run the bounded collect). */
  def stats(terms: Seq[String]): Map[String, TermStats] = {
    val missing = terms.filterNot(statsMemo.contains)
    if (missing.nonEmpty) {
      val fetched = termstats
        .filter(org.apache.spark.sql.functions.col("term").isin(missing: _*))
        .collect().map(t => t.term -> t).toMap
      if (statsMemo.size < BuiltIndex.StatsMemoMax)
        missing.foreach(t => statsMemo.putIfAbsent(t, fetched.get(t)))
      return terms.iterator.flatMap { t =>
        statsMemo.get(t).getOrElse(fetched.get(t)).map(t -> _)
      }.toMap
    }
    terms.iterator.flatMap(t => statsMemo(t).map(t -> _)).toMap
  }
}

object BuiltIndex {
  /** Cap on the driver-side per-term stats memo (ADVICE r05: unbounded
    * growth under adversarial/high-churn unique-term query streams). */
  val StatsMemoMax: Int = 1 << 16
}

/** Growable primitive int buffer (no boxing). */
private final class IntBuf(initial: Int = 8) {
  private var arr = new Array[Int](initial)
  var len = 0
  def add(v: Int): Unit = {
    if (len == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
    arr(len) = v; len += 1
  }
  def apply(i: Int): Int = arr(i)
  def incrLast(): Unit = arr(len - 1) += 1
  def slice(from: Int, until: Int): Array[Int] =
    java.util.Arrays.copyOfRange(arr, from, until)
}

/** Accumulated postings of one term (or trigram) within one shard.
  * add() must see docs ascending; positions ascending within a doc. */
private final class PostingAcc {
  val docs = new IntBuf(4)
  val tfs = new IntBuf(4)
  val poss = new IntBuf(4)
  val docStartIdx = new IntBuf(4) // offset into poss where each doc's run begins
  var lastDoc: Int = -1
  def add(doc: Int, pos: Int): Unit = {
    if (doc != lastDoc) {
      docs.add(doc); tfs.add(1); docStartIdx.add(poss.len); lastDoc = doc
    } else tfs.incrLast()
    poss.add(pos)
  }

  /** Cut into blocks of ≤ blockSize docs; emit via the caller's builder. */
  def toBlocks[B](blockSize: Int, withPositions: Boolean)(
      mk: (Int, Int, Array[Int], Array[Int], Long, Int, Array[Byte], Array[Byte], Int) => B): Iterator[B] = {
    val nDocs = docs.len
    Iterator.tabulate((nDocs + blockSize - 1) / blockSize) { blockId =>
      val from = blockId * blockSize
      val until = math.min(nDocs, from + blockSize)
      val docsArr = docs.slice(from, until)
      val tfsArr = tfs.slice(from, until)
      var cf = 0L; var maxTf = 0
      tfsArr.foreach { t => cf += t; if (t > maxTf) maxTf = t }
      val (posBytes, relBytes, nPos) =
        if (!withPositions) (Array.emptyByteArray, Array.emptyByteArray, 0)
        else {
          val pFrom = docStartIdx(from)
          val pUntil = if (until == nDocs) poss.len else docStartIdx(until)
          val posSlice = poss.slice(pFrom, pUntil)
          val docOfPos = new Array[Int](posSlice.length)
          var d = from
          var i = 0
          while (i < posSlice.length) {
            while (d + 1 < until && docStartIdx(d + 1) - pFrom <= i) d += 1
            docOfPos(i) = docsArr(d - from)
            i += 1
          }
          val run = Varint.encodePositions(docOfPos, posSlice)
          (run.pos, run.posrel, run.n)
        }
      mk(blockId, docsArr.length, docsArr, tfsArr, cf, maxTf, posBytes, relBytes, nPos)
    }
  }
}

/** Open-addressing term → PostingAcc map that looks keys up directly from
  * a (string, start, end) slice — the hot loop allocates NO per-token
  * Strings (one String materializes per distinct term per shard only).
  * At web scale the posting build is this loop; allocation rate is the
  * scaling bottleneck of the whole job. */
private final class TermMap(initialCapacity: Int = 1 << 12) {
  private var cap = Integer.highestOneBit(math.max(initialCapacity, 16) * 2 - 1)
  private var mask = cap - 1
  private var keys = new Array[String](cap)
  private var vals = new Array[PostingAcc](cap)
  var size = 0

  private def grow(): Unit = {
    val ok = keys; val ov = vals
    cap *= 2; mask = cap - 1
    keys = new Array[String](cap); vals = new Array[PostingAcc](cap)
    var i = 0
    while (i < ok.length) {
      val k = ok(i)
      if (k != null) {
        var idx = k.hashCode & mask
        while (keys(idx) != null) idx = (idx + 1) & mask
        keys(idx) = k; vals(idx) = ov(i)
      }
      i += 1
    }
  }

  /** slice hash identical to String.hashCode over [start,end) */
  def getOrInsert(s: String, start: Int, end: Int): PostingAcc = {
    var h = 0
    var i = start
    while (i < end) { h = h * 31 + s.charAt(i); i += 1 }
    var idx = h & mask
    while (true) {
      val k = keys(idx)
      if (k == null) {
        if (size * 4 >= cap * 3) { grow(); return getOrInsert(s, start, end) }
        val key = s.substring(start, end)
        val acc = new PostingAcc
        keys(idx) = key; vals(idx) = acc; size += 1
        return acc
      } else if (k.length == end - start && k.regionMatches(0, s, start, end - start)) {
        return vals(idx)
      }
      idx = (idx + 1) & mask
    }
    throw new IllegalStateException("unreachable")
  }

  /** ASCII-folded variant: hashes and compares the [start,end) slice with
    * A–Z lowercased per char — exact for ASCII input — so the hot loop
    * needs NO lowercased copy of the document. The lowercased key string
    * materializes only on first insert (once per distinct term per shard). */
  def getOrInsertFolded(s: String, start: Int, end: Int): PostingAcc = {
    var h = 0
    var i = start
    while (i < end) {
      var c = s.charAt(i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
      h = h * 31 + c
      i += 1
    }
    var idx = h & mask
    while (true) {
      val k = keys(idx)
      if (k == null) {
        if (size * 4 >= cap * 3) { grow(); return getOrInsertFolded(s, start, end) }
        val buf = new Array[Char](end - start)
        var j = start
        while (j < end) {
          var c = s.charAt(j)
          if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
          buf(j - start) = c
          j += 1
        }
        val acc = new PostingAcc
        keys(idx) = new String(buf); vals(idx) = acc; size += 1
        return acc
      } else if (k.length == end - start && foldedEquals(k, s, start)) {
        return vals(idx)
      }
      idx = (idx + 1) & mask
    }
    throw new IllegalStateException("unreachable")
  }

  private def foldedEquals(k: String, s: String, start: Int): Boolean = {
    var i = 0
    val n = k.length
    while (i < n) {
      var c = s.charAt(start + i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
      if (c != k.charAt(i)) return false
      i += 1
    }
    true
  }

  def sortedEntries: Array[(String, PostingAcc)] = {
    val out = new Array[(String, PostingAcc)](size)
    var i = 0; var w = 0
    while (i < keys.length) {
      if (keys(i) != null) { out(w) = (keys(i), vals(i)); w += 1 }
      i += 1
    }
    java.util.Arrays.sort(out, Ordering.by[(String, PostingAcc), String](_._1))
    out
  }
}

/** Per-shard in-memory posting builder — the dcs per-package index build
  * (`cmd/dcs-package-importer/importer.go:392-469`): one task indexes one
  * doc-shard entirely locally, so there is NO global occurrence shuffle
  * and hot terms cost nothing extra (each shard holds at most
  * docsPerShard docs of any term). Memory is O(occurrences in shard),
  * bounded by docsPerShard — size shards to the task memory budget. */
private final class ShardIndexer(shard: Int, docsPerShard: Long, blockSize: Int) {
  private val terms = new TermMap()

  def add(term: String, localDoc: Int, pos: Int): Unit =
    terms.getOrInsert(term, 0, term.length).add(localDoc, pos)

  /** Tokenize-and-add with zero per-token allocation (tokens = maximal
    * [a-z0-9] runs after lowercasing, Text.tokenize semantics). ASCII
    * documents — the overwhelming common case — run the zero-COPY path:
    * no whole-document toLowerCase materializes (that copy was the
    * memory-bandwidth ceiling of the r01 8→32-core scaling measurements);
    * folding happens per char inside the hash/compare. Non-ASCII falls
    * back to the String.toLowerCase reference semantics. */
  def addDoc(localDoc: Int, text: String): Unit =
    if (Text.isAscii(text)) addDocAscii(localDoc, text)
    else addDocGeneric(localDoc, text)

  private def addDocAscii(localDoc: Int, s: String): Unit = {
    val n = s.length
    var i = 0
    var tokIdx = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || (c >= 'A' && c <= 'Z')) {
        val start = i
        i += 1
        while (i < n && {
          val d = s.charAt(i)
          (d >= 'a' && d <= 'z') || (d >= '0' && d <= '9') || (d >= 'A' && d <= 'Z')
        }) i += 1
        terms.getOrInsertFolded(s, start, i).add(localDoc, tokIdx)
        tokIdx += 1
      } else i += 1
    }
  }

  private def addDocGeneric(localDoc: Int, text: String): Unit = {
    val s = text.toLowerCase(java.util.Locale.ROOT)
    val n = s.length
    var i = 0
    var tokIdx = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        val start = i
        i += 1
        while (i < n && {
          val d = s.charAt(i)
          (d >= 'a' && d <= 'z') || (d >= '0' && d <= '9')
        }) i += 1
        terms.getOrInsert(s, start, i).add(localDoc, tokIdx)
        tokIdx += 1
      } else i += 1
    }
  }

  def finish(withPositions: Boolean): Iterator[PostingBlock] = {
    val base = shard.toLong * docsPerShard
    terms.sortedEntries.iterator.flatMap { case (term, acc) =>
      acc.toBlocks(blockSize, withPositions) {
        (blockId, df, docsArr, tfsArr, cf, maxTf, posB, relB, nPos) =>
          PostingBlock(term, shard, blockId, df, cf, maxTf,
            base + docsArr(0), base + docsArr(df - 1),
            Varint.encodeDeltas(docsArr), Varint.encodeInts(tfsArr),
            nPos, posB, relB)
      }
    }
  }
}

/** Trigram variant keyed by the packed 24-bit trigram via an unboxed
  * LongMap. The all-spaces trigram keeps its docid section but drops the
  * positional sections (dcs write.go:346, merge.go:366,432). */
private final class TriShardIndexer(shard: Int, docsPerShard: Long, blockSize: Int) {
  private val tris = scala.collection.mutable.LongMap.empty[PostingAcc]

  def add(tri: Int, localDoc: Int, pos: Int): Unit =
    tris.getOrElseUpdate(tri.toLong, new PostingAcc).add(localDoc, pos)

  def finish(): Iterator[TriBlock] = {
    val base = shard.toLong * docsPerShard
    val keys = tris.keysIterator.toArray.sorted
    keys.iterator.flatMap { triL =>
      val tri = triL.toInt
      val withPos = tri != Text.AllSpaces
      tris(triL).toBlocks(blockSize, withPos) {
        (blockId, df, docsArr, _, _, _, posB, relB, nPos) =>
          TriBlock(tri, shard, blockId, df,
            base + docsArr(0), base + docsArr(df - 1),
            Varint.encodeDeltas(docsArr), nPos, posB, relB)
      }
    }
  }
}

object IndexBuilder {

  /** Deletion budget the persisted deldict is generated with; lookups for
    * any edit distance up to this value can use it (the stored variants
    * are a superset of smaller budgets). Beyond it, fuzzy/suggest fall
    * back to the dictionary scan. */
  val DelDictMaxDist = 2

  /** Longest dictionary term enumerated into the deldict. A term has
    * O(len²) deletion variants of O(len) bytes each — one pathological
    * long token (a 50k-char base64 blob survives tokenize) would
    * otherwise materialize ~O(len³) bytes in a single delterms task and
    * OOM the build (code-review r05). Correctness holds because the
    * LOOKUP side ([[Search]]) uses the deldict only for queries of
    * length ≤ [[DelDictMaxQueryLen]], and a query that short is within
    * DelDictMaxDist edits only of terms of length
    * ≤ DelDictMaxQueryLen + DelDictMaxDist ≤ this cap — capped-out terms
    * are unreachable by any dictionary-served query. */
  val DelDictMaxTermLen = 64

  /** Longest query term served by the deldict point lookup; longer
    * queries fall back to the length-banded scan (their own deletion
    * neighborhood would otherwise become an unbounded `key IN (...)`
    * literal list on the driver — code-review r05). Must stay
    * ≤ DelDictMaxTermLen − DelDictMaxDist for the completeness argument
    * above. */
  val DelDictMaxQueryLen = 32

  /** (key, term) deletion-variant rows of a term dictionary — shared by
    * the persisted delterms stage and IndexFeeder.persist (a published
    * merge re-derives it from the merged termstats, like revdict). */
  def deldictOf(spark: SparkSession, terms: DataFrame): DataFrame = {
    import spark.implicits._
    terms.select("term").as[String]
      .filter(t => t.length <= DelDictMaxTermLen)
      .flatMap(t => Text.deletionVariants(t, DelDictMaxDist).map(k => (k, t)))
      .toDF("key", "term")
  }

  /** Build configuration. SIZING CONTRACT for `docsPerShard` (ADVICE
    * r05): the combined encode buffers ONE shard's raw text per task and
    * then runs one accumulator family at a time, so the per-task memory
    * budget must cover shard text bytes + the larger of the token/trigram
    * accumulator sets + the task's emitted blocks — size docsPerShard to
    * that, not to accumulators alone (the pre-r05 contract). */
  final case class Config(
      docsPerShard: Long = 1L << 14,
      blockSize: Int = 256,
      buildTrigrams: Boolean = true,
      partitions: Int = 32,
      lineageDir: Option[String] = None)

  /** Deterministic dense docId assignment: global rank in `url` order
    * (dcs assigns docids by arrival order within a shard, write.go:151-152;
    * we pin a global deterministic order instead so distributed builds and
    * merges are reproducible — SURVEY §7.0). The order is Spark SQL's
    * binary UTF-8 string order, as in every prior round.
    *
    * r06: partitions are SHARD-ALIGNED — every partition starts at a rank
    * that is a multiple of `alignTo` (callers pass docsPerShard), so a
    * partition holds only whole shards and the downstream encode becomes a
    * pure scan with NO (shard)-keyed exchange of the text (VERDICT r05
    * next-round #1; the reference indexes each package in one local pass,
    * importer.go:392-469). Two-pass plan per guide §2.3/§8 — decide with
    * small rows, move big rows once:
    *   pass 1 (url bytes only): exact global ranks over the sorted url
    *     column pick the boundary urls at alignTo-multiple ranks;
    *   pass 2 (the one full-row exchange): rows range-partition by their
    *     boundary-derived group id — equal keys never split, so groups
    *     stay whole — and sort by url within the partition; the dense id
    *     is groupStart + local position, exact because every boundary
    *     sits at a known rank.
    * This also retires the zipWithIndex RDD hop. Duplicate urls that
    * straddle a group boundary would shift group sizes; each task checks
    * its group's expected row count and fails loudly. */
  /** Above this row count, boundary urls come from a distributed rank
    * pass instead of a driver-side sort of the url column (bounded
    * driver work — guide §5: the driver does no data-sized work). */
  private val MaxDriverUrls = 1 << 18

  def assignDocIds(spark: SparkSession, docs: DataFrame, partitions: Int,
      alignTo: Long = 1L): Dataset[(Long, String, String, String)] = {
    import spark.implicits._
    // pass 1 decides boundaries from the url column ALONE (guide §8:
    // decide with small rows, move big rows once). Small corpora resolve
    // it in ONE job: pull up to MaxDriverUrls urls; if that is all of
    // them, sort on the driver and pick the boundary urls directly —
    // the per-build fixed job count matters at bench scale, where four
    // boundary jobs cost more than the shuffle they replace.
    val pulled = docs.select("url").as[String].limit(MaxDriverUrls + 1).collect()
    val small = pulled.length <= MaxDriverUrls
    val n = if (small) pulled.length.toLong else docs.count()
    val align = math.max(1L, alignTo)
    val perPart = (n + math.max(1, partitions) - 1) / math.max(1, partitions)
    val g = math.max(align, ((perPart + align - 1) / align) * align)
    val nGroups = math.max(1L, (n + g - 1) / g).toInt
    // boundary url at each rank g, 2g, ... under the SAME Spark SQL
    // binary UTF-8 string order pass 2 sorts with
    val bounds: Array[Array[Byte]] =
      if (nGroups == 1) Array.empty
      else if (small) {
        val bs = pulled.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.util.Arrays.sort(bs,
          ((a: Array[Byte], b: Array[Byte]) => byteCompare(a, b)): java.util.Comparator[Array[Byte]])
        Array.tabulate(nGroups - 1)(p => bs(((p + 1).toLong * g).toInt))
      } else docs.select("url")
        .repartitionByRange(math.max(1, partitions), col("url"))
        .sortWithinPartitions("url")
        .as[String].rdd
        .zipWithIndex()
        .filter { case (_, r) => r > 0 && r % g == 0 }
        .map(_._1).collect()
        .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .sortWith((a, b) => byteCompare(a, b) < 0)
    // group id = count of boundaries <= url, compared in UTF-8 byte order
    // (Spark SQL's string order — compareTo would disagree off-BMP)
    val grpOf = udf { (u: String) =>
      val ub = u.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var lo = 0
      var hi = bounds.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (byteCompare(bounds(mid), ub) <= 0) lo = mid + 1 else hi = mid
      }
      lo
    }
    docs.select(col("url"), col("text"), col("lang"))
      .withColumn("__grp", grpOf(col("url")))
      .repartitionByRange(nGroups, col("__grp"))
      .sortWithinPartitions("__grp", "url")
      .as[(String, String, String, Int)]
      .mapPartitions { it =>
        var grp = -1
        var i = 0L
        var expected = 0L
        def check(): Unit = require(grp < 0 || i == expected,
          s"assignDocIds: group $grp holds $i rows, expected $expected — " +
            "duplicate urls straddling a range boundary? urls must be distinct")
        new Iterator[(Long, String, String, String)] {
          def hasNext: Boolean = it.hasNext || { check(); false }
          def next(): (Long, String, String, String) = {
            val (url, text, lang, gIdx) = it.next()
            if (gIdx != grp) {
              check(); grp = gIdx; i = 0L
              expected = if (gIdx.toLong == nGroups - 1L) n - gIdx.toLong * g else g
            }
            val id = gIdx.toLong * g + i
            i += 1
            (id, url, text, lang)
          }
        }
      }
  }

  /** Unsigned byte-wise compare — the UTF-8 binary order Spark SQL sorts
    * strings with. */
  private def byteCompare(a: Array[Byte], b: Array[Byte]): Int = {
    val len = math.min(a.length, b.length)
    var i = 0
    while (i < len) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Build the full index from (url, text, lang) document rows.
    * All shuffles are keyed by (term, shard): one shuffle for the token
    * postings, one for the trigram postings, one tiny one for stats.
    */
  def build(spark: SparkSession, docs: DataFrame, cfg: Config = Config()): BuiltIndex = {
    import spark.implicits._
    // shard-aligned partitions: every downstream per-shard stage (encode,
    // docnorms) runs as a pure scan of the cached partitions — the text
    // is exchanged exactly once, in assignDocIds (r06)
    val withIds = assignDocIds(spark, docs, cfg.partitions, cfg.docsPerShard).cache()
    val nDocs = withIds.count()
    val dps = cfg.docsPerShard
    val nShards = math.max(1, ((nDocs + dps - 1) / dps)).toInt

    // the trigram ingest gate is evaluated once here and recorded per doc
    // (only when trigram sections are built at all); the 2 MiB distinct-
    // trigram bitset is reused across the partition's docs
    val withGate = cfg.buildTrigrams
    val docmap: Dataset[DocEntry] = withIds.mapPartitions { it =>
      val seen = new java.util.BitSet(1 << 24)
      it.map { case (id, url, text, lang) =>
        DocEntry(id, url, (id / dps).toInt, Text.countTokens(text), lang,
          !withGate || Text.indexableReusing(text, seen))
      }
    }.cache()

    // an empty corpus would leave avg(dl) NULL and NPE on unboxing deep
    // in the build with no actionable message (code-review r05)
    val avgdl = Option(docmap.agg(avg(col("dl"))).head().get(0))
      .map(_.asInstanceOf[Double])
      .getOrElse(throw new IllegalArgumentException(
        "IndexBuilder.build: input corpus is empty — nothing to index"))

    // docmap partitions hold whole shards with ascending docIds (the
    // assignDocIds alignment), so per-shard dl runs fold locally — the
    // groupByKey(shard) exchange this stage used to pay is gone (r06)
    val docnorms: Dataset[DocNorms] = docmap.mapPartitions { it =>
      val out = scala.collection.mutable.ArrayBuffer.empty[DocNorms]
      var shard = -1
      val dls = new IntBuf(1024)
      def flush(): Unit = if (shard >= 0)
        out += DocNorms(shard, shard.toLong * dps, dls.len, Varint.encodeInts(dls.slice(0, dls.len)))
      it.foreach { d =>
        if (d.shard != shard) { flush(); shard = d.shard; dls.len = 0 }
        dls.add(d.dl)
      }
      flush()
      out.iterator
    }

    val docText = withIds.map { case (id, _, text, _) => (id, text) }
    val postings = encodeTokenPostings(spark, docText, dps, cfg, aligned = true)

    val trigrams =
      if (cfg.buildTrigrams) Some(encodeTriPostings(spark, docText, dps, cfg, aligned = true))
      else None

    val termstats = postings
      .groupBy("term")
      .agg(sum("df").as("df"), sum("cf").as("cf"), max("maxTf").as("maxTf"))
      .as[TermStats]

    val meta = IndexMeta(nDocs, avgdl, dps, nShards, cfg.blockSize, hasPositions = true)
    BuiltIndex(meta, docmap, docnorms, postings, trigrams, termstats)
  }

  /** (shard, docId, text) rows grouped so every shard is contiguous and
    * docIds ascend within it — the invariant every per-shard encode task
    * needs. `aligned = true` asserts the input ALREADY satisfies it
    * (partitions from [[assignDocIds]] with alignTo = docsPerShard, or a
    * scan over shard-aligned docs files) and turns the encode into a pure
    * map — NO exchange of the text, the dcs local per-package build shape
    * (importer.go:392-469; VERDICT r05 next-round #1). `aligned = false`
    * keeps the legacy (shard)-keyed repartition + sort for arbitrary
    * inputs. */
  private def shardRows(docText: Dataset[(Long, String)], dps: Long,
      cfg: Config, aligned: Boolean): Dataset[(Int, Long, String)] = {
    import docText.sparkSession.implicits._
    if (aligned) docText.map { case (id, text) => ((id / dps).toInt, id, text) }
    else docText.map { case (id, text) => ((id / dps).toInt, id, text) }
      .toDF("shard", "docId", "text")
      .repartition(cfg.partitions, col("shard"))
      .sortWithinPartitions("shard", "docId")
      .as[(Int, Long, String)]
  }

  /** Token postings via per-shard local indexing (the dcs per-package
    * build): ONE row-level shuffle of documents to their shard, then each
    * task builds its shard's entire posting set in memory — no global
    * occurrence shuffle, no term skew (a hot term contributes at most
    * docsPerShard postings per task). Size docsPerShard to the task
    * memory budget (dcs sizes shards the same way, howto/index.md:12-15).
    * With `aligned = true` the shuffle disappears too — see [[shardRows]]. */
  def encodeTokenPostings(
      spark: SparkSession,
      docText: Dataset[(Long, String)],
      dps: Long,
      cfg: Config,
      aligned: Boolean = false): Dataset[PostingBlock] = {
    import spark.implicits._
    clearLineage(cfg.lineageDir, "postings") // driver-side: drop stale sidecars
    val docs = shardRows(docText, dps, cfg, aligned)
    docs.mapPartitions { it =>
      val t0 = System.currentTimeMillis()
      var indexer: ShardIndexer = null
      var curShard = -1
      var rows = 0L
      val blocks = scala.collection.mutable.ArrayBuffer.empty[PostingBlock]
      def flush(): Unit = if (indexer != null) blocks ++= indexer.finish(withPositions = true)
      it.foreach { case (shard, id, text) =>
        rows += 1
        if (shard != curShard) {
          flush(); indexer = new ShardIndexer(shard, dps, cfg.blockSize); curShard = shard
        }
        indexer.addDoc((id - shard.toLong * dps).toInt, text)
      }
      flush()
      writeLineage(cfg.lineageDir, "postings", rows, blocks.iterator.map(_.term).toSet.size.toLong,
        blocks.length,
        blocks.iterator.map(b => b.docs.length.toLong + b.tfs.length + b.pos.length).sum,
        System.currentTimeMillis() - t0)
      blocks.iterator
    }
  }

  /** Re-encode raw (term, shard, doc, pos) occurrences — the merge path
    * (ConcatN). Occurrences shuffle to their shard and are re-indexed
    * locally, producing blocks byte-identical to a direct build. */
  def encodeOccurrences(
      spark: SparkSession,
      toks: DataFrame,
      dps: Long,
      cfg: Config,
      stage: String = "postings"): Dataset[PostingBlock] = {
    // `stage` labels the lineage sidecars: IndexMerger.reencodeTri routes
    // TRIGRAM occurrences through this encoder, and a hardcoded
    // "postings" label would both clear and overwrite the real postings
    // sidecars with trigram stats (code-review r04)
    import spark.implicits._
    clearLineage(cfg.lineageDir, stage) // driver-side: drop stale sidecars
    val sorted = toks
      .repartition(cfg.partitions, col("shard"))
      .sortWithinPartitions("shard", "doc", "pos")
      .as[(String, Int, Int, Int)]
    sorted.mapPartitions { it =>
      val t0 = System.currentTimeMillis()
      var indexer: ShardIndexer = null
      var curShard = -1
      var rows = 0L
      val blocks = scala.collection.mutable.ArrayBuffer.empty[PostingBlock]
      def flush(): Unit = if (indexer != null) blocks ++= indexer.finish(withPositions = true)
      it.foreach { case (term, shard, doc, pos) =>
        rows += 1
        if (shard != curShard) {
          flush(); indexer = new ShardIndexer(shard, dps, cfg.blockSize); curShard = shard
        }
        indexer.add(term, doc, pos)
      }
      flush()
      writeLineage(cfg.lineageDir, stage, rows, blocks.iterator.map(_.term).toSet.size.toLong,
        blocks.length,
        blocks.iterator.map(b => b.docs.length.toLong + b.tfs.length + b.pos.length).sum,
        System.currentTimeMillis() - t0)
      blocks.iterator
    }
  }

  /** Rolling byte-trigram scan of one doc into `indexer` — no
    * per-occurrence tuples. ASCII docs scan chars directly (char == UTF-8
    * byte — zero byte copies); others materialize the UTF-8 bytes exactly
    * once and share them between the ingest gate and the scan. `seen` is
    * the 2 MiB distinct-trigram gate bitset, reused across a task's docs. */
  private def scanTrigrams(indexer: TriShardIndexer, local: Int, text: String,
      seen: java.util.BitSet): Unit =
    if (Text.isAscii(text)) {
      if (Text.indexableAscii(text, seen)) {
        var tv = (text.charAt(0) << 8) | text.charAt(1)
        var i = 2
        while (i < text.length) {
          tv = ((tv << 8) | text.charAt(i)) & 0xffffff
          indexer.add(tv, local, i - 2)
          i += 1
        }
      }
    } else {
      val b = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (Text.indexableBytes(b, seen)) {
        var tv = ((b(0) & 0xff) << 8) | (b(1) & 0xff)
        var i = 2
        while (i < b.length) {
          tv = ((tv << 8) | (b(i) & 0xff)) & 0xffffff
          indexer.add(tv, local, i - 2)
          i += 1
        }
      }
    }

  /** Byte-trigram postings with byte-offset positional sections (the dcs
    * docid/pos/posrel sections per trigram, write.go:275-441) — same
    * per-shard local build, with an unboxed LongMap keyed by the packed
    * 24-bit trigram. */
  def encodeTriPostings(
      spark: SparkSession,
      docText: Dataset[(Long, String)],
      dps: Long,
      cfg: Config,
      aligned: Boolean = false): Dataset[TriBlock] = {
    import spark.implicits._
    clearLineage(cfg.lineageDir, "trigrams") // driver-side: drop stale sidecars
    val docs = shardRows(docText, dps, cfg, aligned)
    docs.mapPartitions { it =>
      val t0 = System.currentTimeMillis()
      var indexer: TriShardIndexer = null
      var curShard = -1
      var rows = 0L
      val seen = new java.util.BitSet(1 << 24) // reused across docs in task
      val blocks = scala.collection.mutable.ArrayBuffer.empty[TriBlock]
      def flush(): Unit = if (indexer != null) blocks ++= indexer.finish()
      it.foreach { case (shard, id, text) =>
        rows += 1
        if (shard != curShard) {
          flush(); indexer = new TriShardIndexer(shard, dps, cfg.blockSize); curShard = shard
        }
        scanTrigrams(indexer, (id - shard.toLong * dps).toInt, text, seen)
      }
      flush()
      writeLineage(cfg.lineageDir, "trigrams", rows, 0L, blocks.length,
        blocks.iterator.map(b => b.docs.length.toLong + b.pos.length).sum,
        System.currentTimeMillis() - t0)
      blocks.iterator
    }
  }

  /** Token AND trigram postings in ONE shard-shuffled pass over the text
    * (VERDICT r04 #1: the persistent build used to run encodeTokenPostings
    * and encodeTriPostings as two stages, each re-reading and re-shuffling
    * the full text column through identical (shard)-keyed repartitions —
    * on a DRAM-bound host the duplicated text stream was the whole
    * 0.70-0.75 build weak-scaling gap). Here each task runs both indexers
    * per shard in the same loop: a document's text is resident in cache
    * while both the token and the trigram scan walk it, so text streams
    * through DRAM once. Both stages' lineage sidecars are still written
    * (one pair per task), keeping the lineage schema and load-time audit
    * unchanged. Peak task memory holds one shard's token AND trigram
    * accumulators together — size docsPerShard to that combined budget. */
  def encodeCombined(
      spark: SparkSession,
      docText: Dataset[(Long, String)],
      dps: Long,
      cfg: Config,
      aligned: Boolean = false): Dataset[EncodedBlock] = {
    import spark.implicits._
    clearLineage(cfg.lineageDir, "postings")
    // unconditionally: a crashed trigram-enabled attempt resumed with
    // buildTrigrams=false must not leave phantom trigram sidecars for
    // lineage() to report as a real stage (code-review r05)
    clearLineage(cfg.lineageDir, "trigrams")
    val buildTri = cfg.buildTrigrams
    val docs = shardRows(docText, dps, cfg, aligned)
    docs.mapPartitions { it =>
      val t0 = System.currentTimeMillis()
      var curShard = -1
      var rows = 0L
      val seen = new java.util.BitSet(1 << 24) // reused across docs in task
      val tokBlocks = scala.collection.mutable.ArrayBuffer.empty[PostingBlock]
      val triBlocks = scala.collection.mutable.ArrayBuffer.empty[TriBlock]
      // one shard's docs buffered (refs to the shuffle rows' strings — no
      // copy), then the token loop runs over the whole shard FOLLOWED BY
      // the trigram loop: interleaving the two per doc measured ~10-20%
      // SLOWER than the separate stages (EncodeBench r05 — the two
      // accumulators thrash each other's cache working set), while
      // shard-granular SEQUENTIAL phases keep each loop's cache behavior
      // identical to a dedicated stage and still shuffle the text once.
      // Deliberately sequential, NOT a bounded-batch interleave of live
      // tok+tri indexers: that shape holds BOTH accumulator families
      // simultaneously and OOM'd real 4×4c executor runs at 6.4M docs
      // ("GC overhead limit exceeded", BENCH/logs r05 appendix rounds)
      // where this one survives — the per-task budget docsPerShard must
      // cover is shard text + ONE family's accumulators + the task's
      // emitted blocks, and that is the documented sizing contract.
      val bufLocal = new IntBuf(1024)
      val bufText = scala.collection.mutable.ArrayBuffer.empty[String]
      def flush(shard: Int): Unit = if (shard >= 0 && bufText.nonEmpty) {
        val tok = new ShardIndexer(shard, dps, cfg.blockSize)
        var i = 0
        while (i < bufText.length) { tok.addDoc(bufLocal(i), bufText(i)); i += 1 }
        tokBlocks ++= tok.finish(withPositions = true)
        if (buildTri) {
          val tri = new TriShardIndexer(shard, dps, cfg.blockSize)
          i = 0
          while (i < bufText.length) { scanTrigrams(tri, bufLocal(i), bufText(i), seen); i += 1 }
          triBlocks ++= tri.finish()
        }
        bufText.clear()
        bufLocal.len = 0
      }
      it.foreach { case (shard, id, text) =>
        rows += 1
        if (shard != curShard) { flush(curShard); curShard = shard }
        bufLocal.add((id - shard.toLong * dps).toInt)
        bufText += text
      }
      flush(curShard)
      writeLineage(cfg.lineageDir, "postings", rows,
        tokBlocks.iterator.map(_.term).toSet.size.toLong, tokBlocks.length,
        tokBlocks.iterator.map(b => b.docs.length.toLong + b.tfs.length + b.pos.length).sum,
        System.currentTimeMillis() - t0)
      if (buildTri)
        writeLineage(cfg.lineageDir, "trigrams", rows, 0L, triBlocks.length,
          triBlocks.iterator.map(b => b.docs.length.toLong + b.pos.length).sum,
          System.currentTimeMillis() - t0)
      tokBlocks.iterator.map(b => EncodedBlock(0, b.term, -1, b.shard,
        b.blockId, b.df, b.cf, b.maxTf, b.firstDoc, b.lastDoc,
        b.docs, b.tfs, b.nPos, b.pos, b.posrel)) ++
        triBlocks.iterator.map(b => EncodedBlock(1, null, b.tri, b.shard,
          b.blockId, b.df, 0L, 0, b.firstDoc, b.lastDoc,
          b.docs, Array.emptyByteArray, b.nPos, b.pos, b.posrel))
    }
  }

  /** Token posting blocks of a combined-layout index dir (kind=0).
    * Pruning is parquet ROW-GROUP min/max stats on the kind column —
    * each encode task emits all its token blocks then all its trigram
    * blocks, so row groups stay kind-pure (there is no directory
    * partition since the r05 plain write; see buildPersistent). */
  private def readPostingBlocks(spark: SparkSession, dir: String): Dataset[PostingBlock] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/blocks").filter(col("kind") === 0)
      .select("term", "shard", "blockId", "df", "cf", "maxTf", "firstDoc",
        "lastDoc", "docs", "tfs", "nPos", "pos", "posrel")
      .as[PostingBlock]
  }

  /** Trigram blocks of a combined-layout index dir (kind=1). */
  private def readTriBlocks(spark: SparkSession, dir: String): Dataset[TriBlock] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/blocks").filter(col("kind") === 1)
      .select("tri", "shard", "blockId", "df", "firstDoc", "lastDoc",
        "docs", "nPos", "pos", "posrel")
      .as[TriBlock]
  }

  /** Driver-side, called at encode-plan construction: clear the stage's
    * lineage dir so a re-run with FEWER partitions cannot leave stale
    * part-N.json sidecars behind — validateLineage would accept them
    * (it only checked for missing parts) and lineage() would double-count
    * rows (code-review r04). */
  private def clearLineage(dir: Option[String], stage: String): Unit =
    dir.foreach { d =>
      val f = new java.io.File(s"$d/$stage")
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(_.delete())
    }

  /** Per-partition lineage/metrics sidecar (JSON, one file per task).
    * Local-FS write; on a real cluster this path is a shared filesystem
    * (the executor-side write pattern is identical). */
  private def writeLineage(dir: Option[String], stage: String, rows: Long,
      terms: Long, blocks: Long, bytes: Long, wallMs: Long): Unit =
    dir.foreach { d =>
      val pid = Option(TaskContext.get()).map(_.partitionId()).getOrElse(-1)
      val f = new java.io.File(s"$d/$stage")
      f.mkdirs()
      val json = s"""{"stage":"$stage","partition":$pid,"rows":$rows,"terms":$terms,""" +
        s""""blocks":$blocks,"encodedBytes":$bytes,"wallMillis":$wallMs}"""
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$d/$stage/part-$pid.json"), json)
    }

  // ---- persistence with stage-commit markers (resume support) ------------

  private def stageDone(dir: String, stage: String): Boolean =
    new java.io.File(s"$dir/_COMMITTED_$stage").exists()

  /** Commit marker. `parts >= 0` records how many lineage sidecars the
    * stage is expected to have written (one per task), making the build
    * auditable at load time ([[validateLineage]]). Markers written by
    * [[graft.streaming.IndexFeeder.persist]] hold a bare timestamp; both
    * forms are accepted by readers. */
  private def commitStage(dir: String, stage: String, parts: Int = -1): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_COMMITTED_$stage"),
      s"""{"ts":${System.currentTimeMillis()},"parts":$parts}""")

  private def committedParts(dir: String, stage: String): Int = {
    val f = new java.io.File(s"$dir/_COMMITTED_$stage")
    if (!f.exists()) return -1
    val s = java.nio.file.Files.readString(f.toPath)
    val i = s.indexOf("\"parts\":")
    if (i < 0) -1 // timestamp-only marker (IndexFeeder.persist): nothing to validate
    else s.substring(i + 8).takeWhile(c => c == '-' || c.isDigit).toInt
  }

  /** The per-partition build lineage as a queryable DataFrame — one row
    * per (stage, partition) with rows/terms/blocks/encodedBytes/wallMillis,
    * read from the JSON sidecars the encode tasks wrote. The operator-
    * facing face of the north rule's "per-partition lineage + metrics". */
  def lineage(spark: SparkSession, dir: String): Dataset[Lineage] = {
    import spark.implicits._
    // explicit file list rather than a glob: `_lineage` is `_`-prefixed
    // (hidden to table readers scanning the index root), and Spark's glob
    // resolution logs a spurious FileNotFoundException for such paths
    // before resolving them — listing the O(tasks) sidecars is cheap
    val files = Option(new java.io.File(s"$dir/_lineage").listFiles())
      .getOrElse(Array.empty)
      .flatMap(st => Option(st.listFiles()).getOrElse(Array.empty))
      .filter(_.getName.endsWith(".json"))
      .map(_.getPath).toSeq
    require(files.nonEmpty, s"$dir: no lineage sidecars under _lineage/")
    spark.read
      .schema(implicitly[org.apache.spark.sql.Encoder[Lineage]].schema)
      .json(files: _*)
      .as[Lineage]
  }

  /** Validate that every encode task of a committed stage left its lineage
    * sidecar: the commit marker records the expected task count, so a
    * build that lost a partition (partial copy, manual tampering, a
    * half-restored checkpoint) is detected at load time instead of
    * silently serving an index with missing postings. No-op for
    * timestamp-only markers without a parts record. */
  def validateLineage(dir: String): Unit =
    Seq("postings", "trigrams").foreach { stage =>
      val expected = committedParts(dir, stage)
      if (expected >= 0) {
        val found = Option(new java.io.File(s"$dir/_lineage/$stage").listFiles())
          .getOrElse(Array.empty)
          .flatMap(f => "part-(\\d+)\\.json".r.findFirstMatchIn(f.getName).map(_.group(1).toInt))
          .toSet
        val missing = (0 until expected).filterNot(found)
        require(missing.isEmpty,
          s"$dir: stage '$stage' committed $expected partitions but lineage " +
            s"sidecars for partition(s) ${missing.mkString(",")} are missing — " +
            "partial or tampered build")
        val extra = found.filter(_ >= expected)
        require(extra.isEmpty,
          s"$dir: stage '$stage' committed $expected partitions but STALE " +
            s"sidecars ${extra.toSeq.sorted.mkString(",")} from a prior build " +
            "attempt are present — lineage() would double-count; rebuild the stage")
      }
    }

  /** Wait for both stages of a concurrent pair, then rethrow the first
    * failure: a failed stage must not leave its sibling's job still
    * writing parquet and commit markers into the index dir after the
    * build has thrown. */
  private[graft] def awaitBoth(a: Future[Unit], b: Future[Unit]): Unit = {
    val ra = Await.ready(a, Duration.Inf).value.get
    val rb = Await.ready(b, Duration.Inf).value.get
    ra.get; rb.get
  }

  /** Build and persist, stage by stage, skipping stages whose commit
    * marker already exists — the checkpoint/resume discipline (mirrors
    * the importer's atomic `.tmp`→rename + skip of committed shards,
    * reference importer.go:233-239,452-465). Returns the number of stages
    * actually executed (0 on a fully-resumed build).
    *
    * The only on-disk layout is the combined one: token and trigram
    * blocks together in `blocks/` (a `kind` column tells them apart),
    * beside `docs/`, `docnorms/`, `termstats/`, `revterms/`,
    * `delterms/`, `meta.json`, the `_COMMITTED_<stage>` markers and the
    * `_lineage/` sidecars. Markers, meta and lineage are plain files
    * written with java.nio, so they assume a local POSIX filesystem (or
    * a shared mount with the same rename and visibility semantics). */
  def buildPersistent(spark: SparkSession, docs: DataFrame, dir: String,
      cfg0: Config = Config(),
      onStage: (String, Double) => Unit = (_, _) => ()): Int = {
    import spark.implicits._
    val cfg = cfg0.copy(lineageDir = Some(s"$dir/_lineage"))
    new java.io.File(dir).mkdirs()
    var ran = 0
    var t0 = System.nanoTime()
    def stageEnd(name: String): Unit = {
      onStage(name, (System.nanoTime() - t0) / 1e9); t0 = System.nanoTime()
    }

    if (!stageDone(dir, "docmap")) {
      // ONE combined parquet (docId, url, text, lang, shard, dl): the
      // docmap and the id-attached corpus in a single write — later
      // stages read it with column pruning, and nDocs/avgdl come from
      // cheap metadata/single-column scans of the written file
      val dps = cfg.docsPerShard
      val withGate = cfg.buildTrigrams
      // alignTo = docsPerShard: each written file holds only whole shards
      // in docId order, so the encode stage reads whole-shard splits with
      // no exchange (r06; see encodeCombined below)
      assignDocIds(spark, docs, cfg.partitions, dps)
        .mapPartitions { it =>
          val seen = new java.util.BitSet(1 << 24)
          it.map { case (id, url, text, lang) =>
            (id, url, text, lang, (id / dps).toInt, Text.countTokens(text),
              !withGate || Text.indexableReusing(text, seen))
          }
        }
        .toDF("docId", "url", "text", "lang", "shard", "dl", "indexable")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/docs")
      val stats = spark.read.parquet(s"$dir/docs")
        .agg(count(lit(1)), avg("dl")).head()
      val nDocs = stats.getLong(0)
      // fail with a named error, not an unboxing NPE on the NULL average
      // of an empty corpus (code-review r05)
      require(nDocs > 0,
        s"IndexBuilder.buildPersistent($dir): input corpus is empty — nothing to index")
      val avgdl = stats.getDouble(1)
      val nShards = math.max(1, (nDocs + dps - 1) / dps).toInt
      writeMeta(s"$dir/meta.json",
        IndexMeta(nDocs, avgdl, dps, nShards, cfg.blockSize, hasPositions = true))
      commitStage(dir, "docmap"); stageEnd("docmap"); ran += 1
    }

    val meta = readMeta(s"$dir/meta.json")
    // posting stages read ONLY (docId, text) — the projection reaches the
    // parquet scan (url/lang are never deserialized in the hot stages)
    lazy val docText = spark.read.parquet(s"$dir/docs")
      .select("docId", "text")
      .as[(Long, String)]

    // docnorms and the encode both read only the committed docs files
    // and are independent of each other — submit them concurrently
    // (guide §2.6, same pattern as the dictionary stages below): the
    // tiny docnorms job back-fills cores the encode's task tail leaves
    // idle. Markers stay per-stage for crash/resume.
    val needNorms = !stageDone(dir, "docnorms")
    val needEnc = !stageDone(dir, "postings") ||
      (cfg.buildTrigrams && !stageDone(dir, "trigrams"))
    if (needNorms || needEnc) {
      import scala.concurrent.ExecutionContext.Implicits.global
      val fNorms = Future {
        if (needNorms) {
          spark.read.parquet(s"$dir/docs").select("docId", "shard", "dl")
            .as[(Long, Int, Int)]
            .groupByKey(_._2)
            .mapGroups { (shard, it) =>
              val entries = it.map(d => (d._1, d._3)).toArray.sortBy(_._1)
              DocNorms(shard, shard.toLong * meta.docsPerShard, entries.length,
                Varint.encodeInts(entries.map(_._2)))
            }
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/docnorms")
          commitStage(dir, "docnorms")
        }
      }
      // token + trigram sections in ONE pass over the text (the dominant
      // DRAM stream of the build — see encodeCombined). Both families
      // land in $dir/blocks; the two legacy commit markers stay so
      // resume/publish gating and batchDirs() are unchanged.
      val fEnc = Future {
        if (needEnc) {
          // plain write, kind as a normal column: each task emits all its
          // token blocks then all its trigram blocks, so row groups stay
          // kind-pure and the kind filter prunes on parquet min/max stats.
          // partitionBy(kind) would plan a per-task SORT of the whole
          // block set (multi-MB rows through the external sorter) —
          // measured ~5% slower end-to-end (EncodeBench r05).
          // aligned = true: the docs files are shard-aligned (assignDocIds
          // above), so the encode is a straight scan — the (shard)-keyed
          // exchange of the text, the build's last row-level shuffle, is
          // gone (r06). A resumed pre-r06 docs dir is merely unaligned,
          // which only splits a boundary shard's blocks across two tasks
          // — every decode path merges per-(term,shard) blocks by
          // firstDoc, so results are unchanged. The commit marker records
          // the ACTUAL task count (scan splits, no longer cfg.partitions)
          // for the lineage audit.
          val enc = encodeCombined(spark, docText, meta.docsPerShard, cfg, aligned = true)
          val encParts = enc.rdd.getNumPartitions
          enc.write.mode(SaveMode.Overwrite).parquet(s"$dir/blocks")
          commitStage(dir, "postings", encParts)
          if (cfg.buildTrigrams) commitStage(dir, "trigrams", encParts)
        }
      }
      awaitBoth(fNorms, fEnc)
      if (needNorms) { stageEnd("docnorms"); ran += 1 }
      if (needEnc) { stageEnd("encode"); ran += 1 }
    }

    if (!stageDone(dir, "termstats")) {
      readPostingBlocks(spark, dir).toDF()
        .groupBy("term")
        .agg(sum("df").as("df"), sum("cf").as("cf"), max("maxTf").as("maxTf"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/termstats")
      commitStage(dir, "termstats"); stageEnd("termstats"); ran += 1
    }

    // the two dictionary stages both derive from the COMMITTED termstats
    // and are independent of each other — submit them as concurrent jobs
    // (guide §2.6: actions are only sequential because driver code calls
    // them sequentially; each stage's tail of small tasks back-fills the
    // other's idle cores). Commit markers stay per-stage, so a crash
    // mid-pair resumes exactly the missing one.
    val needDel = !stageDone(dir, "delterms")
    val needRev = !stageDone(dir, "revterms")
    if (needDel || needRev) {
      import scala.concurrent.ExecutionContext.Implicits.global
      val fDel = Future {
        if (needDel) {
          // deletion-neighborhood dictionary, globally sorted by key:
          // fuzzy lookup / spell suggestion become O(|query variants|)
          // point lookups with parquet min/max pruning instead of an
          // O(vocabulary) scan — the same persisted-sorted-dictionary
          // trick as revterms. O(|vocab| · len²) rows at DelDictMaxDist=2
          // — the documented SymSpell space-for-time trade (still
          // O(dictionary), never O(corpus)).
          deldictOf(spark, spark.read.parquet(s"$dir/termstats").select("term"))
            .repartitionByRange(8, col("key"))
            .sortWithinPartitions("key")
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/delterms")
          commitStage(dir, "delterms")
        }
      }
      val fRev = Future {
        if (needRev) {
          // reversed-term dictionary, globally sorted by rev: suffix
          // wildcards become a rev-prefix range with parquet min/max
          // pruning. Tiny table (|vocab| rows), so 8 range partitions
          // suffice.
          spark.read.parquet(s"$dir/termstats")
            .select(reverse(col("term")).as("rev"), col("term"))
            .repartitionByRange(8, col("rev"))
            .sortWithinPartitions("rev")
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/revterms")
          commitStage(dir, "revterms")
        }
      }
      awaitBoth(fDel, fRev)
      if (needDel) { stageEnd("delterms"); ran += 1 }
      if (needRev) { stageEnd("revterms"); ran += 1 }
    }

    // terminal marker: EVERY configured stage (including the optional
    // trigram sections) is committed — the one file a publish swap can
    // gate on without knowing the build config (code-review r04)
    commitStage(dir, "build")
    ran
  }

  /** Load a committed index dir written by [[buildPersistent]] or
    * [[graft.streaming.IndexFeeder.persist]]. The only supported on-disk
    * layout is the combined `blocks/` one (see [[buildPersistent]]); like
    * the build, load assumes markers, meta and lineage sit on a local
    * POSIX filesystem. */
  def load(spark: SparkSession, dir: String): BuiltIndex = {
    import spark.implicits._
    // a loadable index needs every non-optional stage committed — meta.json
    // alone only proves the docmap stage started (ADVICE r01)
    Seq("docmap", "docnorms", "postings", "termstats").foreach { st =>
      require(stageDone(dir, st), s"$dir: stage '$st' is not committed — partial build")
    }
    validateLineage(dir) // every committed encode task left its sidecar
    val meta = readMeta(s"$dir/meta.json")
    BuiltIndex(
      meta,
      spark.read.parquet(s"$dir/docs")
        .select("docId", "url", "shard", "dl", "lang", "indexable").as[DocEntry],
      spark.read.parquet(s"$dir/docnorms").as[DocNorms],
      readPostingBlocks(spark, dir),
      if (stageDone(dir, "trigrams")) Some(readTriBlocks(spark, dir)) else None,
      spark.read.parquet(s"$dir/termstats").as[TermStats],
      revdict = // optional (pre-r04 layouts): suffix falls back to a scan
        if (stageDone(dir, "revterms")) Some(spark.read.parquet(s"$dir/revterms"))
        else None,
      deldict = // optional (pre-r05 layouts): fuzzy/suggest fall back to a scan
        if (stageDone(dir, "delterms")) Some(spark.read.parquet(s"$dir/delterms"))
        else None)
  }

  def writeMeta(path: String, m: IndexMeta): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      s"""{"nDocs":${m.nDocs},"avgdl":${m.avgdl},"docsPerShard":${m.docsPerShard},""" +
        s""""nShards":${m.nShards},"blockSize":${m.blockSize},""" +
        s""""hasPositions":${m.hasPositions},"version":${m.version},""" +
        s""""textInDocs":${m.textInDocs}}""")

  def readMeta(path: String): IndexMeta = {
    val s = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    def f(k: String): String =
      s.split(s""""$k":""")(1).takeWhile(c => c != ',' && c != '}')
    IndexMeta(f("nDocs").toLong, f("avgdl").toDouble, f("docsPerShard").toLong,
      f("nShards").toInt, f("blockSize").toInt, f("hasPositions").toBoolean,
      f("version").toInt, f("textInDocs").toBoolean)
  }
}
