package perfbench

import java.io.{ByteArrayOutputStream, File, FileOutputStream}
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Seeded input generators. Each writes its workload's input to disk
  * and returns the ground truth it planted, so every check compares
  * the program's output with facts the program never computed. The
  * same seed always yields the same bytes and the same truth. */
object Gen {

  // ------------------------------------------------------------ terasort

  /** Rows written and the order-insensitive content checksum: xor of
    * xxhash64(key, value) per row, the TeraValidate checksum. */
  final case class TeraTruth(rows: Long, checksum: Long)

  /** TeraGen-style 100-byte records: a 10-char key that is a seeded hash
    * of the row index (uniform, like TeraGen's random keys) and a
    * 90-char payload. `parts` parquet files. */
  def terasort(spark: SparkSession, dir: String, rows: Long, seed: Long,
               parts: Int): TeraTruth = {
    val records = spark.range(0, rows, 1, parts).select(
      substring(lpad(hex(xxhash64(lit(seed), col("id"))), 16, "0"), 1, 10).as("key"),
      rpad(concat(lit("r"), col("id").cast("string"), lit("-"),
        hex(xxhash64(col("id"), lit(seed + 1)))), 90, "x").as("value"))
    records.write.mode("overwrite").parquet(dir)
    val t = records.agg(count(lit(1)), bit_xor(xxhash64(col("key"), col("value"))))
      .head()
    TeraTruth(t.getLong(0), t.getLong(1))
  }

  // ------------------------------------------------------------- neardup

  /** The planted near-duplicate structure: every pair of documents in
    * one cluster (id1 < id2), and each clustered document's component
    * label, the smallest id in its cluster. `boilerplateDocs` is the
    * length of the hot posting lists: [[Boilerplate]]'s trigrams occur
    * in exactly those documents. `inputChecksum` hashes the generated
    * texts. */
  final case class NearDupTruth(pairs: Set[(Long, Long)], comps: Map[Long, Long],
                                boilerplateDocs: Int, inputChecksum: Long)

  /** A site footer shared verbatim by a fixed share of the documents:
    * its word trigrams are the corpus's hot tokens (one posting list
    * holding every boilerplate document). Fixed text, not seeded, as
    * boilerplate is in real crawls. */
  val Boilerplate: Array[String] =
    "copyright all rights reserved privacy policy terms of use contact us".split(" ")

  /** Word for vocabulary slot `i`: consonant-vowel syllables, lower
    * case, so every tokenizer splits the corpus the same way. */
  private[perfbench] def word(i: Int): String = {
    val cons = "bcdfghjklmnprstvz"; val vow = "aeiou"
    val sb = new StringBuilder
    var x = i
    do {
      sb.append(cons.charAt(x % cons.length)); x /= cons.length
      sb.append(vow.charAt(x % vow.length)); x /= vow.length
    } while (x > 0)
    sb.toString
  }

  private val Words = 150
  private val Vocab = 20000
  private val ClusteredShare = 0.3
  private val Edits = 4
  private val BoilerShare = 0.2

  /** `docs` documents of [[Words]] words. [[ClusteredShare]] of them sit
    * in clusters of 2 to 4 copies of one base text, each copy with
    * [[Edits]] single-word substitutions by words used nowhere else: two
    * copies then share at least (w−2−6·e)/(w−2+6·e) of their word
    * trigrams (0.72 at 150 words and 4 edits), so every in-cluster pair
    * clears Jaccard 1/2, while unrelated documents share only the
    * boilerplate. [[BoilerShare]] of the documents (whole clusters at a
    * time) carry [[Boilerplate]]. Ids are a seeded permutation, so
    * clusters are not contiguous. */
  def neardup(spark: SparkSession, dir: String, seed: Long, docs: Int,
              parts: Int): NearDupTruth = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((0L until docs.toLong).toVector)
    var fresh = Vocab // substitution words: never drawn for a base text
    val texts = new Array[String](docs)
    val pairs = mutable.Set[(Long, Long)]()
    val comps = mutable.Map[Long, Long]()
    var boilerDocs = 0
    val boilerAt = (Words - Boilerplate.length) / 2
    def base(boiler: Boolean): Array[String] = {
      val w = Array.fill(Words)(word(rnd.nextInt(Vocab)))
      if (boiler) Array.copy(Boilerplate, 0, w, boilerAt, Boilerplate.length)
      w
    }
    val clustered = (docs * ClusteredShare).toInt
    var next = 0
    while (next < docs) {
      val size =
        if (next < clustered) math.min(2 + rnd.nextInt(3), clustered - next) else 1
      val boiler = rnd.nextDouble() < BoilerShare
      val b = base(boiler)
      val members = (0 until size).map { _ =>
        val w = b.clone()
        if (size > 1) {
          val editable = (0 until Words).filterNot(p =>
            boiler && p >= boilerAt && p < boilerAt + Boilerplate.length)
          rnd.shuffle(editable).take(Edits).foreach { p => w(p) = word(fresh); fresh += 1 }
        }
        val id = ids(next)
        texts(id.toInt) = w.mkString(" ")
        if (boiler) boilerDocs += 1
        next += 1
        id
      }
      if (size > 1) {
        val root = members.min
        members.foreach(m => comps(m) = root)
        for (a <- members; b2 <- members if a < b2) pairs += ((a, b2))
      }
    }
    val rows = texts.indices.map(i => (i.toLong, texts(i)))
    import spark.implicits._
    spark.createDataset(rows).toDF("id", "text").repartition(parts)
      .write.mode("overwrite").parquet(dir)
    val checksum = rows.foldLeft(0L) { case (h, (i, t)) =>
      h ^ mix(i * 31 + t.hashCode) }
    NearDupTruth(pairs.toSet, comps.toMap, boilerDocs, checksum)
  }

  // -------------------------------------------------------- crawl_curate

  /** Why the curation chain must drop (or keep) a record. */
  object Fate extends Enumeration {
    val Survivor, Blocked, Noindex, TooShort, UrlDup, ContentDup, OverCap = Value
  }

  /** One response record. `textKey` seeds its text; a content
    * duplicate reuses its original's key. */
  final case class Rec(file: Int, idx: Int, url: String, textKey: Long,
                       fate: Fate.Value)

  final case class CrawlTruth(survivors: Set[(Long, Int)], fates: Map[Fate.Value, Int],
                              blockDomains: Seq[String], domainCap: Int,
                              paths: Seq[String], inputChecksum: Long) {
    def survivorChecksum: Long = Gen.idChecksum(survivors)
  }

  /** Order-insensitive checksum of (media_id, record_idx) ids. */
  def idChecksum(ids: Iterable[(Long, Int)]): Long =
    ids.foldLeft(0L) { case (h, (m, i)) => h ^ mix(m * 1000003L + i) }

  val BlockDomains: Seq[String] = Seq("blocked0.example", "blocked1.example", "blocked2.example")

  /** Exactly the function words LangId's English profile counts: a
    * word like "on" or "a" also scores for other profiles, and a text
    * rich in them can be (correctly) labelled foreign and gated out. */
  private val English = Array("the", "of", "and", "to", "in", "is", "that", "it", "was", "for")

  /** Text of record `key`: `n` words, about a third English function
    * words, the rest seeded vocabulary, in sentences. */
  private[perfbench] def recordText(seed: Long, key: Long, n: Int): String = {
    val r = new scala.util.Random(mix(seed * 7919 + key))
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      val w = if (r.nextInt(3) == 0) English(r.nextInt(English.length)) else word(r.nextInt(20000))
      if (i > 0) sb.append(if (i % 12 == 0) ". " else " ")
      sb.append(w)
      i += 1
    }
    sb.append('.').toString
  }

  /** The record plan: per record a fate drawn from the seed, in the
    * order the chain's keep-first rules use, (media_id, record_idx).
    * The fates that depend on other records are resolved here by
    * construction: a URL duplicate reuses an earlier survivor's URL, a
    * content duplicate an earlier survivor's text, and a domain keeps
    * its first `cap` records that pass the gates and both keep-firsts;
    * later ones are over the cap. Domains are Zipf-popular, so the cap
    * bites on the head only. */
  def crawlPlan(seed: Long, files: Int, perFile: Int, domains: Int,
                cap: Int): Seq[Rec] = {
    val rnd = new scala.util.Random(seed)
    val zipf = {
      val w = (1 to domains).map(1.0 / _)
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail.toArray
    }
    def domain(): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(zipf, u)
      math.min(if (i >= 0) i else -i - 1, domains - 1)
    }
    val kept = mutable.ArrayBuffer[Rec]()
    val perDomain = new Array[Int](domains)
    val out = mutable.ArrayBuffer[Rec]()
    var key = 0L
    for (f <- 0 until files; i <- 1 to perFile) {
      key += 1
      val u = rnd.nextDouble()
      def url(host: String) = s"http://$host/p/$f/$i"
      val rec =
        if (u < 0.04) Rec(f, i, url(s"www.${BlockDomains(rnd.nextInt(BlockDomains.size))}"),
          key, Fate.Blocked)
        else if (u < 0.08) Rec(f, i, url(s"www.site${domain()}.com"), key, Fate.Noindex)
        else if (u < 0.12) Rec(f, i, url(s"www.site${domain()}.com"), key, Fate.TooShort)
        else if (u < 0.16 && kept.nonEmpty)
          Rec(f, i, kept(rnd.nextInt(kept.size)).url, key, Fate.UrlDup)
        else if (u < 0.20 && kept.nonEmpty)
          Rec(f, i, url(s"www.site${domain()}.com"), kept(rnd.nextInt(kept.size)).textKey,
            Fate.ContentDup)
        else {
          val d = domain()
          perDomain(d) += 1
          val r = Rec(f, i, url(s"www.site$d.com"), key,
            if (perDomain(d) <= cap) Fate.Survivor else Fate.OverCap)
          if (r.fate == Fate.Survivor) kept += r
          r
        }
      out += rec
    }
    out.toSeq
  }

  /** One gzip member per WARC record (the Common Crawl `.warc.gz`
    * layout): a warcinfo record (record_idx 0), then one response
    * record per planned record. Files are rendered by Spark tasks, one
    * file per task. */
  def crawl(spark: SparkSession, dir: String, seed: Long, files: Int, perFile: Int,
            domains: Int, cap: Int): CrawlTruth = {
    val plan = crawlPlan(seed, files, perFile, domains, cap)
    new File(dir).mkdirs()
    val byFile = plan.groupBy(_.file).toSeq.sortBy(_._1)
    val checksums = spark.sparkContext.parallelize(byFile, byFile.size).map { case (f, recs) =>
      val bytes = warcFile(seed, recs.sortBy(_.idx))
      val out = new FileOutputStream(new File(dir, f"w$f%06d.warc.gz"))
      try out.write(bytes) finally out.close()
      mix(f.toLong * 31 + java.util.Arrays.hashCode(bytes))
    }.collect()
    CrawlTruth(
      survivors = plan.filter(_.fate == Fate.Survivor).map(r => (r.file.toLong, r.idx)).toSet,
      fates = plan.groupBy(_.fate).map { case (k, v) => k -> v.size },
      blockDomains = BlockDomains, domainCap = cap,
      paths = (0 until files).map(f => new File(dir, f"w$f%06d.warc.gz").getAbsolutePath),
      inputChecksum = checksums.foldLeft(0L)(_ ^ _))
  }

  private def warcFile(seed: Long, recs: Seq[Rec]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def member(bytes: Array[Byte]): Unit = {
      val g = new GZIPOutputStream(out) // closing it leaves `out` usable
      g.write(bytes); g.close()
    }
    def record(wtype: String, uri: String, payload: Array[Byte]): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: $wtype\r\n" +
        (if (uri != null) s"WARC-Target-URI: $uri\r\n" else "") +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes("ISO-8859-1") ++
        payload ++ "\r\n\r\n".getBytes("ISO-8859-1")
    member(record("warcinfo", null, "software: perfbench\r\n".getBytes("ISO-8859-1")))
    recs.foreach { r =>
      val text =
        if (r.fate == Fate.TooShort) s"short ${r.textKey}"
        else recordText(seed, r.textKey, 80 + (mix(seed + r.textKey) & 0x3f).toInt)
      val extra = if (r.fate == Fate.Noindex) "X-Robots-Tag: noindex, nofollow\r\n" else ""
      val body = s"<html><body><p>$text</p></body></html>"
      val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n$extra\r\n")
        .getBytes("ISO-8859-1") ++ body.getBytes("UTF-8")
      member(record("response", r.url, http))
    }
    out.toByteArray
  }

  /** splitmix64 finalizer: a well-mixed 64-bit hash of a long. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}
