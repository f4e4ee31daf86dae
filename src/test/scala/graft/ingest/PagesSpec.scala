package graft.ingest

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTest
import graft.pipeline.Media
import graft.runtime.IterationCheckpointer
import graft.algos.PageRank
import graft.graph.Adjacency

/** Ingest invariants (BASELINE.json input_hint): byte-identical text per
  * url, deterministic generation independent of partitioning, dense sorted
  * id mapping, href→edge extraction; plus checkpoint/resume and the media
  * decode-stub plumbing. */
class PagesSpec extends AnyFunSuite with SparkTest {

  test("extracted text is byte-identical per url (sha2 over UTF-8 bytes)") {
    val pages = Pages.synthesize(spark, 500, nSites = 30).cache()
    val orig = pages.select(col("url"), sha2(encode(col("text"), "UTF-8"), 256).as("h1"))
    val extr = Pages.extractText(pages)
      .select(col("url"), sha2(encode(col("text"), "UTF-8"), 256).as("h2"))
    val joined = orig.join(extr, "url")
    assert(joined.count() == 500)
    assert(joined.filter(col("h1") =!= col("h2")).count() == 0)
  }

  test("generation is deterministic and partitioning-independent") {
    val a = Pages.synthesize(spark, 200, nSites = 10)
      .select("url", "text", "lang").repartition(1)
    val b = Pages.synthesize(spark, 200, nSites = 10)
      .select("url", "text", "lang").repartition(7)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("id map is a dense 0..n-1 permutation in sorted-url order") {
    val pages = Pages.synthesize(spark, 300, nSites = 20)
    val ids = Pages.idMap(pages).cache()
    assert(ids.count() == 300)
    assert(ids.agg(min("id")).collect()(0).getLong(0) == 0)
    assert(ids.agg(max("id")).collect()(0).getLong(0) == 299)
    assert(ids.select("id").distinct().count() == 300)
    // order-preserving: id ordering == url ordering
    val rows = ids.orderBy("id").collect().map(_.getString(0))
    assert(rows.sameElements(rows.sorted))
  }

  test("edges: every extracted href resolves to an in-universe id pair") {
    val pages = Pages.synthesize(spark, 300, nSites = 20).cache()
    val ids = Pages.idMap(pages)
    val edges = Pages.edges(pages, ids).cache()
    val n = edges.count()
    assert(n > 300) // ~10 links/page, minus dupes/self
    val bad = edges.filter(col("src") < 0 || col("src") > 299 ||
      col("dst") < 0 || col("dst") > 299).count()
    assert(bad == 0)
    // links in html == links extracted (extraction is lossless)
    val htmlLinks = pages.select(explode(regexp_extract_all(
      decode(col("html"), "UTF-8"), lit("href=\"([^\"]+)\""), lit(1)))).count()
    val rawLinks = Pages.extractLinks(pages).count()
    assert(htmlLinks == rawLinks)
  }

  test("checkpoint/resume: PageRank resumes from snapshot and converges identically") {
    import graft.SparkTestSession
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val pages = Pages.synthesize(spark, 200, nSites = 10)
    val ids = Pages.idMap(pages)
    val adj = Adjacency.build(Pages.edges(pages, ids), 200, 4)
    val full = PageRank.run(spark, adj, tol = 0.0, maxIter = 12)
    // run 5 iterations with checkpointing, then resume to iteration 12
    PageRank.run(spark, adj, tol = 0.0, maxIter = 5,
      checkpointer = Some(new IterationCheckpointer(dir)))
    val resumed = PageRank.run(spark, adj, tol = 0.0, maxIter = 12,
      checkpointer = Some(new IterationCheckpointer(dir)))
    assert(resumed.iterations == full.iterations)
    val f = full.scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val g = resumed.scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    f.foreach { case (k, v) => assert(math.abs(v - g(k)) < 1e-9) }
    // manifest carries per-partition lineage
    val manifests = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("manifest_"))
    assert(manifests.nonEmpty)
    val txt = new String(java.nio.file.Files.readAllBytes(manifests.head.toPath))
    assert(txt.contains("\"partitions\"") && txt.contains("\"rows\""))
  }

  test("WAV decode: real RIFF parse recovers header + RMS; malformed dropped") {
    import spark.implicits._
    val keys = Seq(0L, 1L, 7L).toDF("doc_id")
    val wav = Media.synthesizeWav(keys, "doc_id", nSamples = 64, sampleRate = 8000)
    val got = Media.decodeWav(wav, "wav", "key").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    assert(got.keySet == Set(0L, 1L, 7L))
    got.foreach { case (key, (rate, ch, n, rms)) =>
      assert(rate == 8000L && ch == 1L && n == 64L)
      // recompute RMS from the generating arithmetic
      val want = math.sqrt((0 until 64).map { i =>
        val s = ((key * 131 + i.toLong * 7919) % 65536) - 32768
        (s * s).toDouble
      }.sum / 64)
      assert(math.abs(rms - want) < 1e-9)
    }
    // corrupt magic → row dropped, not a crash
    val bad = wav.withColumn("wav",
      when(col("key") === 1L, lit("JUNK".getBytes)).otherwise(col("wav")))
    assert(Media.decodeWav(bad, "wav", "key").count() == 2)
  }

  test("PPM decode: real P6 parse (comment-tolerant) recovers dims + channel means") {
    import spark.implicits._
    val keys = Seq(3L, 4L).toDF("doc_id")
    val ppm = Media.synthesizePpm(keys, "doc_id", w = 16, h = 9)
    val got = Media.decodePpm(ppm, "ppm", "key").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    got.foreach { case (key, (w, h, mr, mg, mb)) =>
      assert(w == 16L && h == 9L)
      def mean(chan: Int) = (0 until 144).map { px =>
        ((key * 37 + (3L * px + chan) * 101) % 256).toDouble
      }.sum / 144
      assert(math.abs(mr - mean(0)) < 1e-9)
      assert(math.abs(mg - mean(1)) < 1e-9)
      assert(math.abs(mb - mean(2)) < 1e-9)
    }
    // a hand-built payload with a header comment still parses
    val px = Array.tabulate(1 * 2 * 3)(i => (i * 10).toByte)
    val hand = ("P6\n# a comment\n1 2\n255\n".getBytes("US-ASCII") ++ px)
    val one = Seq((9L, hand)).toDF("key", "ppm")
    val r = Media.decodePpm(one, "ppm", "key").collect()(0)
    assert(r.getLong(1) == 1L && r.getLong(2) == 2L)
    assert(math.abs(r.getDouble(3) - (0 + 30) / 2.0) < 1e-9)
  }

  test("media decoders drop crafted/corrupt payloads: overflowing RIFF " +
    "chunk size terminates, oversized PPM headers never throw") {
    import spark.implicits._
    // WAV whose first chunk advertises size 0xFFFFFFF8 (-8 if parsed as
    // int32): the chunk walk must terminate and the row must be dropped
    val evil = java.nio.ByteBuffer.allocate(24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(16)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(0xFFFFFFF8).array()
    val good = Media.synthesizeWav(Seq(2L).toDF("doc_id"), "doc_id", 8, 8000)
      .collect()(0).getAs[Array[Byte]](1)
    val wavs = Seq((1L, evil), (2L, good)).toDF("key", "wav")
    val keep = Media.decodeWav(wavs, "wav", "key").collect()
    assert(keep.map(_.getLong(0)).toSeq == Seq(2L))
    // PPM with an 11-digit width (would NumberFormatException on toInt)
    // and one whose w*h overflows Int (50000×50000): both dropped
    val p1 = "P6\n99999999999 1\n255\n".getBytes("US-ASCII")
    val p2 = "P6\n50000 50000\n255\nxxx".getBytes("US-ASCII")
    val ppms = Seq((1L, p1), (2L, p2)).toDF("key", "ppm")
    assert(Media.decodePpm(ppms, "ppm", "key").count() == 0)
  }
}
