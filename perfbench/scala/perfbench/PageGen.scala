package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** A generated Common-Crawl-style page table, kept on the driver so the
  * reference implementations can read the link structure the engine must
  * rediscover from raw html. `links(i)` holds generation indices of the
  * pages that page `i` links to (duplicates and self-links included, as a
  * crawl would have them). */
final case class PageSet(urls: Array[String], texts: Array[String],
                         langs: Array[String], warcTs: Array[Long],
                         links: Array[Array[Int]]) {
  def size: Int = urls.length

  def html(i: Int): Array[Byte] = {
    val sb = new java.lang.StringBuilder(256 + 48 * links(i).length)
    sb.append("<html><head><title>p").append(i).append("</title></head><body><p>")
      .append(texts(i)).append("</p><div>")
    links(i).foreach(t => sb.append("<a href=\"").append(urls(t)).append("\">l</a>"))
    sb.append("</div></body></html>").toString.getBytes(UTF_8)
  }

  /** Directed, deduplicated (src, dst) edges over the engine's id space:
    * ids are the rank of the url in sorted order. */
  def edges(): (Array[Int], Array[Int]) = {
    val order = urls.indices.sortBy(urls(_))
    val id = new Array[Int](size)
    order.zipWithIndex.foreach { case (g, r) => id(g) = r }
    val keys = new Array[Long](links.map(_.length).sum)
    var k = 0
    for (i <- urls.indices; t <- links(i)) { keys(k) = (id(i).toLong << 32) | id(t); k += 1 }
    Reference.unpack(keys)
  }
}

/** Seeded page generator with two link shapes.
  *
  *  - `powerLaw`: link targets drawn as floor(u^3 * n), so in-links pile up
  *    on a few hub pages; sites are a power-law partition of the pages.
  *  - `siteLocal`: pages grouped into sites of skewed size; most hrefs point
  *    a few pages further along the same site, some anywhere in the site,
  *    and a rare few to another site. The graph has many components and
  *    long paths, so component labels need more rounds to settle.
  *
  * Every value is a function of the seed alone. Text mixes ASCII and
  * multi-byte UTF-8 words so byte-identical extraction is a real check. */
object PageGen {

  private val words = Array(
    "crawl", "web", "graph", "page", "link", "rank", "vertex", "edge",
    "query", "index", "shuffle", "join", "sparse", "matrix", "semiring",
    "the", "a", "of", "and", "to", "größe", "données", "граф", "数据", "ñandú")
  private val langs = Array("en", "de", "fr", "es", "zh", "ru")

  private def text(r: SplittableRandom): String =
    Seq.fill(8 + r.nextInt(24))(words(r.nextInt(words.length))).mkString(" ")

  private def pages(urls: Array[String], links: Array[Array[Int]],
                    r: SplittableRandom): PageSet = {
    val n = urls.length
    PageSet(urls, Array.fill(n)(text(r)), Array.fill(n)(langs(r.nextInt(langs.length))),
      Array.fill(n)(1600000000L + r.nextInt(31536000)), links)
  }

  def powerLaw(n: Int, seed: Long, avgLinks: Int = 10): PageSet = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val nSites = math.max(1, n / 50)
    val urls = Array.tabulate(n) { i =>
      val u = r.nextDouble()
      s"https://site${(u * u * nSites).toInt}.example/p/$i"
    }
    val links = Array.fill(n) {
      Array.fill(2 + r.nextInt(2 * avgLinks - 3)) {
        val u = r.nextDouble()
        (u * u * u * n).toInt
      }
    }
    pages(urls, links, r)
  }

  def siteLocal(n: Int, seed: Long): PageSet = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    val site = new Array[Int](n)
    val base = new Array[Int](n)
    val len = new Array[Int](n)
    var start = 0
    var s = 0
    while (start < n) {
      // site sizes follow a fixed low-discrepancy sequence, not the seed,
      // so every seed gives the same path lengths and component rounds
      val u = (s * 0.6180339887498949) % 1.0
      val size = math.min(n - start, 4 + (u * u * u * 600).toInt)
      var k = 0
      while (k < size) { site(start + k) = s; base(start + k) = start; len(start + k) = size; k += 1 }
      start += size
      s += 1
    }
    val urls = Array.tabulate(n)(i => s"https://site${site(i)}.example/p/${i - base(i)}")
    val links = Array.tabulate(n) { i =>
      Array.fill(1 + r.nextInt(4)) {
        val p = r.nextDouble()
        if (p < 0.002) r.nextInt(n)
        else if (p < 0.85) base(i) + math.min(len(i) - 1, i - base(i) + 1 + r.nextInt(3))
        else base(i) + r.nextInt(len(i))
      }
    }
    pages(urls, links, r)
  }
}
