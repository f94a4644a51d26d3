package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Planted-truth checks, written without the program's own validators.
  * Each returns the failures it found; empty means correct. */
object Checks {

  /** Global key order across the frame's partitions (in partition
    * order), row count and xor checksum against what the generator wrote. */
  def terasort(sorted: DataFrame, truth: Gen.TeraTruth): Seq[String] = {
    val spark = sorted.sparkSession
    import spark.implicits._
    // per partition: (index, rows, xor, locally ordered, first key, last key)
    val parts = sorted.select(col("key"), xxhash64(col("key"), col("value")))
      .as[(String, Long)].rdd.mapPartitionsWithIndex { (i, it) =>
        var n = 0L; var xor = 0L; var ok = true
        var first: String = null; var last: String = null
        it.foreach { case (k, h) =>
          if (first == null) first = k
          if (last != null && last > k) ok = false
          last = k; n += 1; xor ^= h
        }
        Iterator.single((i, n, xor, ok, first, last))
      }.collect().sortBy(_._1).filter(_._2 > 0)
    val rows = parts.map(_._2).sum
    val xor = parts.map(_._3).foldLeft(0L)(_ ^ _)
    Seq(
      Option.when(parts.exists(!_._4))("a partition is not sorted by key"),
      Option.when(parts.sliding(2).exists(w => w.length == 2 && w(0)._6 > w(1)._5))(
        "partitions are out of key order"),
      Option.when(rows != truth.rows)(s"rows $rows, planted ${truth.rows}"),
      Option.when(xor != truth.checksum)(s"checksum $xor, planted ${truth.checksum}"),
    ).flatten
  }

  /** Both pair generators return exactly the planted in-cluster pairs,
    * and the components are exactly the planted clusters. */
  def neardup(minhash: Set[(Long, Long)], comps: Map[Long, Long],
              setsim: Set[(Long, Long)], truth: Gen.NearDupTruth): Seq[String] = {
    def diff(name: String, got: Set[(Long, Long)]) = Option.when(got != truth.pairs)(
      s"$name: ${got.size} pairs, planted ${truth.pairs.size} " +
        s"(${(got -- truth.pairs).size} extra, ${(truth.pairs -- got).size} missing)")
    Seq(
      diff("minHashVerifiedPairs", minhash),
      diff("SetSimJoin.jaccardPairs", setsim),
      Option.when(minhash != setsim)(
        s"MinHash-verified and exact pair sets differ in ${(minhash diff setsim).size + (setsim diff minhash).size} pairs"),
      Option.when(comps != truth.comps)(
        s"components: ${comps.size} labelled ids, planted ${truth.comps.size} " +
          s"(${comps.count { case (k, v) => !truth.comps.get(k).contains(v) }} wrong or extra)"),
    ).flatten
  }

  /** Output rows (media_id, record_idx, domain, domain_rank, url): the
    * survivor set equals the planted survivors (count and id checksum
    * reported), no blocked domain is present, no rank exceeds the cap. */
  def crawl(rows: Seq[(Long, Int, String, Long, String)], truth: Gen.CrawlTruth): Seq[String] = {
    val ids = rows.map(r => (r._1, r._2))
    val got = ids.toSet
    val host = "^[a-z]+://([^/:]+)".r
    val blocked = rows.filter { r =>
      val h = host.findFirstMatchIn(r._5.toLowerCase).map(_.group(1)).getOrElse("")
      truth.blockDomains.exists(b => h == b || h.endsWith("." + b) || r._3 == b)
    }
    Seq(
      Option.when(ids.size != got.size)(s"${ids.size - got.size} duplicate survivor rows"),
      Option.when(got.size != truth.survivors.size ||
          Gen.idChecksum(got) != truth.survivorChecksum)(
        s"survivors ${got.size} (checksum ${Gen.idChecksum(got)}), planted " +
          s"${truth.survivors.size} (checksum ${truth.survivorChecksum}); " +
          s"${(got -- truth.survivors).size} extra ${(got -- truth.survivors).take(3).mkString}, " +
          s"${(truth.survivors -- got).size} missing ${(truth.survivors -- got).take(3).mkString}"),
      Option.when(blocked.nonEmpty)(s"${blocked.size} rows from blocked domains"),
      Option.when(rows.exists(_._4 > truth.domainCap))(
        s"domain_rank up to ${rows.map(_._4).max}, cap ${truth.domainCap}"),
    ).flatten
  }
}
