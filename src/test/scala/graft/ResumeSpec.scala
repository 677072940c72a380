package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.PageGen
import graft.index.{IndexBuilder, Search}

/** Checkpoint/resume + lineage (north rule): a killed build resumes from
  * per-stage commit markers, skipping committed work; per-partition
  * lineage sidecars are written next to the index. */
class ResumeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-idx").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("persistent build commits stages, resume skips them all") {
    val dir = tmpDir()
    val docs = PageGen.pages(spark, 300, 4).toDF().select("url", "text", "lang")
    val cfg = IndexBuilder.Config(docsPerShard = 64, blockSize = 16, partitions = 4)
    val ran1 = IndexBuilder.buildPersistent(spark, docs, dir, cfg)
    // docmap, docnorms, encode (postings+trigrams in one pass), termstats,
    // delterms, revterms
    assert(ran1 == 6)
    val ran2 = IndexBuilder.buildPersistent(spark, docs, dir, cfg)
    assert(ran2 == 0) // fully resumed

    // lineage sidecars exist and carry metrics
    val lineage = new java.io.File(s"$dir/_lineage/postings").listFiles()
    assert(lineage != null && lineage.nonEmpty)
    val json = java.nio.file.Files.readString(lineage.head.toPath)
    assert(json.contains("\"rows\":") && json.contains("\"encodedBytes\":"))
  }

  test("a failed stage pair waits for its slower sibling before rethrowing") {
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failed = Future.failed[Unit](new IllegalStateException("stage failed"))
    val slow = Future { Thread.sleep(500); siblingDone.set(true) }
    val e = intercept[IllegalStateException](IndexBuilder.awaitBoth(failed, slow))
    assert(e.getMessage == "stage failed")
    assert(siblingDone.get(), "awaitBoth returned while the sibling stage still ran")
    // and the other way round: the slow stage fails, the fast one is fine
    val slowFail = Future[Unit] { Thread.sleep(200); throw new IllegalStateException("late") }
    val e2 = intercept[IllegalStateException](IndexBuilder.awaitBoth(Future.unit, slowFail))
    assert(e2.getMessage == "late")
  }

  test("lineage accessor: one row per (stage, partition), metrics add up") {
    val dir = tmpDir()
    val docs = PageGen.pages(spark, 300, 4).toDF().select("url", "text", "lang")
    val cfg = IndexBuilder.Config(docsPerShard = 64, blockSize = 16, partitions = 4)
    IndexBuilder.buildPersistent(spark, docs, dir, cfg)
    val lin = IndexBuilder.lineage(spark, dir).collect()
    // one sidecar pair per encode TASK — since the r06 shuffle-free
    // encode, tasks are scan splits of the shard-aligned docs files
    // (here ceil(300 / lcm-aligned group of 128) = 3), no longer
    // cfg.partitions; load()'s validateLineage pins the exact count
    // against the commit marker, so here we assert the invariants
    val nPost = lin.count(_.stage == "postings")
    assert(nPost > 0 && nPost == lin.count(_.stage == "trigrams"))
    assert(lin.map(_.rows).sum == 600) // both stages see every doc once
    assert(lin.filter(_.stage == "postings").map(_.blocks).sum > 0)
    // a task that received no shard still writes its (all-zero) sidecar
    assert(lin.filter(_.rows > 0).forall(_.encodedBytes > 0))
  }

  test("load detects a build with a missing lineage partition") {
    val dir = tmpDir()
    val docs = PageGen.pages(spark, 300, 4).toDF().select("url", "text", "lang")
    val cfg = IndexBuilder.Config(docsPerShard = 64, blockSize = 16, partitions = 4)
    IndexBuilder.buildPersistent(spark, docs, dir, cfg)
    assert(IndexBuilder.load(spark, dir).meta.nDocs == 300) // intact: loads
    val lost = new java.io.File(s"$dir/_lineage/postings/part-2.json")
    assert(lost.delete())
    val e = intercept[IllegalArgumentException](IndexBuilder.load(spark, dir))
    assert(e.getMessage.contains("partition(s) 2"))
  }

  test("load detects STALE lineage sidecars beyond the committed partitions") {
    // r04: a prior wider build attempt leaving part-N.json for N >=
    // partitions would make lineage() double-count — load must refuse
    val dir = tmpDir()
    val docs = PageGen.pages(spark, 300, 4).toDF().select("url", "text", "lang")
    val cfg = IndexBuilder.Config(docsPerShard = 64, blockSize = 16, partitions = 4)
    IndexBuilder.buildPersistent(spark, docs, dir, cfg)
    val src = new java.io.File(s"$dir/_lineage/postings/part-0.json").toPath
    val stale = new java.io.File(s"$dir/_lineage/postings/part-9.json").toPath
    java.nio.file.Files.copy(src, stale)
    val e = intercept[IllegalArgumentException](IndexBuilder.load(spark, dir))
    assert(e.getMessage.contains("STALE"))
    assert(e.getMessage.contains("9"))
  }

  test("a fresh encode clears stale sidecars first (r04 clearLineage)") {
    val dir = tmpDir()
    // pre-place garbage sidecars as if a wider prior attempt crashed here
    for (stage <- Seq("postings", "trigrams")) {
      val d = new java.io.File(s"$dir/_lineage/$stage"); d.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(d, "part-9.json").toPath, "{\"rows\":1}")
    }
    val docs = PageGen.pages(spark, 300, 4).toDF().select("url", "text", "lang")
    val cfg = IndexBuilder.Config(docsPerShard = 64, blockSize = 16, partitions = 4)
    IndexBuilder.buildPersistent(spark, docs, dir, cfg)
    assert(!new java.io.File(s"$dir/_lineage/postings/part-9.json").exists())
    assert(!new java.io.File(s"$dir/_lineage/trigrams/part-9.json").exists())
    assert(IndexBuilder.load(spark, dir).meta.nDocs == 300) // validates clean
  }

  test("general merge labels lineage sidecars by stage (r04)") {
    // reencodeTri routes trigram occurrences through encodeOccurrences;
    // a hardcoded 'postings' stage label would clear and then overwrite
    // the postings sidecars with trigram stats
    val ldir = tmpDir()
    val docs = PageGen.pages(spark, 200, 4).toDF().select("url", "text", "lang")
    val cfg = IndexBuilder.Config(docsPerShard = 64, blockSize = 16, partitions = 2)
    val parts = Seq(
      IndexBuilder.build(spark, docs.limit(100), cfg),
      IndexBuilder.build(spark, docs.limit(100), cfg))
    val merged = graft.index.IndexMerger.mergeGeneralForBench(
      spark, parts, cfg.copy(lineageDir = Some(ldir)))
    val nPost = merged.postings.count()
    assert(nPost > 0)
    merged.trigrams.foreach(t => assert(t.count() > 0))
    val post = new java.io.File(s"$ldir/postings").listFiles()
    val tri = new java.io.File(s"$ldir/trigrams").listFiles()
    assert(post != null && post.nonEmpty, "postings sidecars present")
    assert(tri != null && tri.nonEmpty, "trigram sidecars present")
    // the postings sidecars describe the POSTING encode, not the trigram
    // one: their block count must add up to the posting block count
    val blocks = post.map { f =>
      val j = java.nio.file.Files.readString(f.toPath)
      "\"blocks\":(\\d+)".r.findFirstMatchIn(j).map(_.group(1).toLong).getOrElse(0L)
    }.sum
    assert(blocks == nPost, s"postings sidecars record $blocks blocks, posting set has $nPost")
  }

  test("swap refuses a partially-built version (meta.json alone, r04)") {
    val root = tmpDir()
    val partial = new java.io.File(s"$root/v1"); partial.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(partial, "meta.json").toPath, "{}")
    val e = intercept[IllegalArgumentException](graft.index.IndexPublisher.swap(root, "v1"))
    assert(e.getMessage.contains("final stage markers"))
  }

  test("crash-suffix resume reruns only uncommitted stages") {
    val dir = tmpDir()
    val docs = PageGen.pages(spark, 300, 4).toDF().select("url", "text", "lang")
    val cfg = IndexBuilder.Config(docsPerShard = 64, blockSize = 16, partitions = 4)
    IndexBuilder.buildPersistent(spark, docs, dir, cfg)
    // simulate a crash after docnorms: drop the marker suffix
    Seq("postings", "termstats", "revterms", "trigrams").foreach { st =>
      new java.io.File(s"$dir/_COMMITTED_$st").delete()
    }
    val ran = IndexBuilder.buildPersistent(spark, docs, dir, cfg)
    assert(ran == 3) // encode (postings+trigrams), termstats, revterms
  }

  test("publish/swap/vacuum: atomic CURRENT pointer, old versions dropped") {
    val root = tmpDir()
    val docs = PageGen.pages(spark, 200, 4).toDF().select("url", "text", "lang")
    val cfg = IndexBuilder.Config(docsPerShard = 64, blockSize = 16,
      partitions = 4, buildTrigrams = false)
    val d1 = graft.index.IndexPublisher.publish(spark, docs, root, cfg)
    assert(graft.index.IndexPublisher.currentVersion(root).contains("v1"))
    val idx1 = graft.index.IndexPublisher.loadCurrent(spark, root)
    assert(idx1.meta.nDocs == 200)
    // publish a second version (larger corpus), swap is atomic
    val docs2 = PageGen.pages(spark, 250, 4).toDF().select("url", "text", "lang")
    graft.index.IndexPublisher.publish(spark, docs2, root, cfg)
    assert(graft.index.IndexPublisher.currentVersion(root).contains("v2"))
    assert(graft.index.IndexPublisher.loadCurrent(spark, root).meta.nDocs == 250)
    // vacuum drops v1 only
    val dropped = graft.index.IndexPublisher.vacuum(root)
    assert(dropped == Seq("v1"))
    assert(!new java.io.File(d1).exists())
    assert(graft.index.IndexPublisher.loadCurrent(spark, root).meta.nDocs == 250)
  }

  test("loaded index answers queries identically to in-memory build") {
    val dir = tmpDir()
    val docs = PageGen.pages(spark, 300, 4).toDF().select("url", "text", "lang")
    val cfg = IndexBuilder.Config(docsPerShard = 64, blockSize = 16, partitions = 4)
    IndexBuilder.buildPersistent(spark, docs, dir, cfg)
    val loaded = IndexBuilder.load(spark, dir)
    val mem = IndexBuilder.build(spark, docs, cfg)
    val q = Seq("the", "qmarker5")
    val a = Search.topK(spark, loaded, q, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = Search.topK(spark, mem, q, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.toSeq == b.toSeq)
    assert(loaded.meta.nDocs == 300)
  }
}
