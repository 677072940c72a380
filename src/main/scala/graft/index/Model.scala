package graft.index

/** Index data model — the Spark-native analogue of dcs's index shard
  * sections (reference `/root/reference/howto/index.md:71-199`):
  * docid.map → [[DocEntry]] table, posting.docid → [[PostingBlock.docs]],
  * posting.pos/posrel → [[PostingBlock.pos]]/[[PostingBlock.posrel]],
  * the per-trigram MetaEntry directory → [[TermStats]] + parquet min/max
  * stats on the sorted `term` column.
  *
  * The index is DOCUMENT-SHARDED like dcs (shard = contiguous docId
  * range, `shard = docId / docsPerShard`): every term's postings are
  * split per shard, so a query fans out to shards and merges per-shard
  * top-k — and hot terms ("the") are structurally spread over all
  * shards, which is the salting that defeats merge skew.
  *
  * Within a (term, shard) the postings are further cut into blocks of at
  * most `blockSize` docs. Each block row carries `maxTf` — the block-max
  * metadata driving WAND skipping — plus delta+varint-compressed local
  * docids and varint tfs, and optionally a positional section with
  * doc-boundary-reset deltas + posrel bitmap (dcs write.go:333-441).
  */
final case class IndexMeta(
    nDocs: Long,
    avgdl: Double,
    docsPerShard: Long,
    nShards: Int,
    blockSize: Int,
    hasPositions: Boolean,
    version: Int = 1,
    /** False for indexes published WITHOUT raw text in the docs table
      * ([[graft.streaming.IndexFeeder.persist]]): posting/trigram search
      * works, but substring/regexp/grep verification needs the caller to
      * supply its own (docId, text) table — the published docs parquet has
      * NO text column, so reading one fails loudly instead of silently
      * verifying against empty strings. True (default) for full builds. */
    textInDocs: Boolean = true)

/** docid.map analogue: one row per document, docId dense in url order.
  * `indexable` records the trigram ingest gate (F1/F2, write.go:143-147):
  * docs failing it stay in the docmap and token index but have NO trigram
  * postings, so substring/regexp search must union them into the
  * verification candidates (recall-hole fix, ADVICE r01). */
final case class DocEntry(
    docId: Long,
    url: String,
    shard: Int,
    dl: Int, // document length in tokens (BM25 norm)
    lang: String,
    indexable: Boolean = true)

/** The fields every posting block carries, token or trigram: the doc
  * section (`docs`, delta+varint local docIds, `df` of them in
  * [`firstDoc`, `lastDoc`]) and the positional section (`nPos` entries of
  * `pos` deltas with the `posrel` doc-boundary bitmap). One decoder
  * serves both block types ([[Postings.decodeDocs]],
  * [[Postings.decodePositionsFlat]]). */
trait DocBlock {
  def shard: Int
  def df: Int
  def firstDoc: Long
  def lastDoc: Long
  def docs: Array[Byte]
  def nPos: Int
  def pos: Array[Byte]
  def posrel: Array[Byte]
}

/** One posting block for a token term.
  * `docs`  = delta+varint of (docId - shard*docsPerShard), sorted distinct.
  * `tfs`   = varint term frequency per doc (parallel to docs).
  * `pos`   = varint token-position deltas, reset at doc boundaries.
  * `posrel`= 1 bit per pos entry, 1 = first position of a new doc. */
final case class PostingBlock(
    term: String,
    shard: Int,
    blockId: Int,
    df: Int,
    cf: Long,
    maxTf: Int,
    firstDoc: Long,
    lastDoc: Long,
    docs: Array[Byte],
    tfs: Array[Byte],
    nPos: Int,
    pos: Array[Byte],
    posrel: Array[Byte]) extends DocBlock

/** One posting block for a byte trigram (tri = 24-bit packed bytes,
  * reference `internal/index/types.go:7`). Positions are byte offsets.
  * tf per doc is implicit in the posrel bitmap. */
final case class TriBlock(
    tri: Int,
    shard: Int,
    blockId: Int,
    df: Int,
    firstDoc: Long,
    lastDoc: Long,
    docs: Array[Byte],
    nPos: Int,
    pos: Array[Byte],
    posrel: Array[Byte]) extends DocBlock

/** One row of the combined encode output: token posting blocks (kind=0)
  * and trigram blocks (kind=1) in a single dataset, so the persistent
  * build writes BOTH section families from ONE shard-shuffled pass over
  * the corpus text (the text column is the dominant DRAM stream of the
  * whole build; dcs likewise indexes each package in one pass over the
  * unpacked tree, reference `cmd/dcs-package-importer/importer.go:392-469`).
  * On disk the dataset is one parquet dir with `kind` as a leading
  * column; each encode task emits all its token blocks before its
  * trigram blocks, so row groups stay kind-pure and a kind filter prunes
  * on parquet min/max stats (a `partitionBy(kind)` layout would add a
  * per-task sort of the whole block set — measured slower). The unused
  * columns of each family (`tri` for tokens, `term`/`cf`/`maxTf`/`tfs`
  * for trigrams) are nulls/zeros that parquet RLE-compresses to nothing. */
final case class EncodedBlock(
    kind: Int,
    term: String,
    tri: Int,
    shard: Int,
    blockId: Int,
    df: Int,
    cf: Long,
    maxTf: Int,
    firstDoc: Long,
    lastDoc: Long,
    docs: Array[Byte],
    tfs: Array[Byte],
    nPos: Int,
    pos: Array[Byte],
    posrel: Array[Byte])

/** Global per-term statistics (df for IDF; the MetaEntry.Entries analogue,
  * dcs write.go:290-311). Small table: |vocab| rows. */
final case class TermStats(term: String, df: Long, cf: Long, maxTf: Int)

/** Per-shard packed document-length table: dls = varint of dl for docIds
  * [base, base+n). One small row per shard, so BM25 queries join O(shards)
  * rows instead of shuffling the whole docmap. */
final case class DocNorms(shard: Int, base: Long, n: Int, dls: Array[Byte])

/** Per-partition build lineage + metrics sidecar (north-rule requirement;
  * mirrors the importer's per-package `.tmp`→rename discipline,
  * reference `cmd/dcs-package-importer/importer.go:392-469`). */
final case class Lineage(
    stage: String,
    partition: Int,
    rows: Long,
    terms: Long,
    blocks: Long,
    encodedBytes: Long,
    wallMillis: Long)
