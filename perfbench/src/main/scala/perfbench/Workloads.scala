package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.jobs.TeraSort
import graft.llm.{Curation, Dedup, SetSimJoin}
import graft.sources.Warc

/** One benchmark workload. [[Main]] calls `generate` in set-up,
  * then `run` (timed) and `check` (untimed) per iteration, and
  * `traced` once for the per-layer breakdown. */
trait Workload {
  /** Writes the seeded input; returns its checksum (same seed, same value). */
  def generate(seed: Long): Long
  /** Removes the previous iteration's output (untimed). */
  def clean(): Unit = ()
  /** The timed pipeline, from the first public call to its result. */
  def run(): Unit
  /** The last result against the planted truth; empty when correct. */
  def check(): Seq[String]
  /** The pipeline with each layer's call materialized in its own span.
    * Returns the counts only the workload can see; [[Main]] adds the
    * listener's. */
  def traced(tr: Tracer): Map[String, Double]
}

object Workload {
  val Names: Seq[String] = Seq("terasort", "neardup", "crawl_curate")

  /** (untimed warm-ups, timed iterations) per run, fixed like the input
    * sizes. A run reports the median of its timed iterations. More timed
    * iterations steady a run's figures, within a run time of about 45 s:
    * terasort's iteration (about 2 s) affords three after two warm-ups,
    * crawl_curate's (about 4 s) two, neardup's (about 10 s) one. */
  val Iterations: Map[String, (Int, Int)] =
    Map("terasort" -> (2, 3), "neardup" -> (1, 1), "crawl_curate" -> (1, 2))

  /** Input sizes are fixed here: the seed changes the content of an
    * input, never its size. */
  def apply(name: String, spark: SparkSession, work: File, cores: Int): Workload = name match {
    case "terasort" => new TeraSortWorkload(spark, work, cores, rows = 500000L)
    case "neardup" => new NearDupWorkload(spark, work, cores, docs = 6000)
    case "crawl_curate" => new CrawlWorkload(spark, work, cores, files = 4 * cores,
      records = 8000)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (expected one of ${Names.mkString(", ")})")
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  /** (MB, part files) of a written parquet directory. */
  def dirStats(dir: File): (Double, Int) = {
    val parts = Option(dir.listFiles).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-"))
    (mb(parts.map(_.length).sum), parts.length)
  }

  private[perfbench] def mb(bytes: Long): Double = bytes / 1048576.0
}

final class TeraSortWorkload(spark: SparkSession, work: File, cores: Int, rows: Long)
    extends Workload {
  private val in = new File(work, "terasort-in")
  private val out = new File(work, "terasort-out")
  private var truth: Gen.TeraTruth = _
  private var validated: (Long, Long) = _

  def generate(seed: Long): Long = {
    truth = Gen.terasort(spark, in.getPath, rows, seed, cores)
    truth.checksum ^ truth.rows
  }

  override def clean(): Unit = Workload.delete(out)

  def run(): Unit = {
    TeraSort.sort(spark.read.parquet(in.getPath))
      .write.mode("overwrite").option("compression", "zstd").parquet(out.getPath)
    validated = TeraSort.validate(TeraSortWorkload.readInOrder(spark, out), truth.checksum,
      truth.rows)
  }

  def check(): Seq[String] = {
    val own = Checks.terasort(TeraSortWorkload.readInOrder(spark, out), truth)
    own ++ (if (validated != ((truth.rows, truth.checksum)))
      Seq(s"TeraSort.validate returned $validated, planted (${truth.rows}, ${truth.checksum})")
    else Nil)
  }

  def traced(tr: Tracer): Map[String, Double] = {
    val input = tr.span("scan") {
      val df = spark.read.parquet(in.getPath).persist(StorageLevel.MEMORY_AND_DISK)
      df.count(); df
    }
    val sorted = tr.span("jobs.sort") {
      val df = TeraSort.sort(input).persist(StorageLevel.MEMORY_AND_DISK)
      df.count(); df
    }
    tr.span("sink") {
      sorted.write.mode("overwrite").option("compression", "zstd").parquet(out.getPath)
    }
    validated = tr.span("jobs.validate") {
      TeraSort.validate(TeraSortWorkload.readInOrder(spark, out), truth.checksum, truth.rows)
    }
    sorted.unpersist(); input.unpersist()
    val (mb, files) = Workload.dirStats(out)
    Map("sink.output_mb" -> mb, "sink.files" -> files.toDouble)
  }
}

object TeraSortWorkload {
  /** The written output with partitions in part-file order: a plain
    * directory scan packs files by size, which loses the global order
    * a sort check has to see. */
  def readInOrder(spark: SparkSession, dir: File): DataFrame =
    Option(dir.listFiles).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-")).map(_.getPath).sorted
      .map(p => spark.read.parquet(p)).reduce(_ union _)
}

final class NearDupWorkload(spark: SparkSession, work: File, cores: Int, docs: Int)
    extends Workload {
  import spark.implicits._
  private val in = new File(work, "neardup-in")
  private var truth: Gen.NearDupTruth = _
  private var minhash = Set.empty[(Long, Long)]
  private var comps = Map.empty[Long, Long]
  private var setsim = Set.empty[(Long, Long)]

  def generate(seed: Long): Long = {
    truth = Gen.neardup(spark, in.getPath, seed, docs, cores)
    truth.inputChecksum
  }

  /** Collects `df` itself (not a projection of it), so its own
    * query execution carries the executed plan's metrics. */
  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet

  private def minhashDf(corpus: DataFrame) =
    Dedup.minHashVerifiedPairs(corpus, "id", "text", n = 3, threshold = 0.5)
  private def componentsOf(p: Set[(Long, Long)]): Map[Long, Long] =
    Dedup.components(p.toSeq.toDF("id1", "id2")).as[(Long, Long)].collect().toMap
  private def setsimDf(corpus: DataFrame) =
    SetSimJoin.jaccardPairs(corpus, "id", "text", num = 1, den = 2, ngram = 3)

  def run(): Unit = {
    val corpus = spark.read.parquet(in.getPath)
    minhash = pairs(minhashDf(corpus))
    comps = componentsOf(minhash)
    setsim = pairs(setsimDf(corpus))
  }

  def check(): Seq[String] = Checks.neardup(minhash, comps, setsim, truth)

  def traced(tr: Tracer): Map[String, Double] = {
    val corpus = tr.span("scan") {
      val df = spark.read.parquet(in.getPath).persist(StorageLevel.MEMORY_AND_DISK)
      df.count(); df
    }
    // the fused sketch kernel minHashVerifiedPairs runs, standalone
    val sketched = tr.span("functions") {
      val sk = Dedup.sketchFrame(corpus, "id", "text", 3).persist(StorageLevel.MEMORY_AND_DISK)
      val n = sk.count()
      sk.unpersist()
      n
    }
    // minHashVerifiedPairs runs its sketch jobs when called: build it in the span
    val mhDf = tr.span("llm.minhash") {
      val df = minhashDf(corpus)
      minhash = pairs(df); df
    }
    comps = tr.span("llm.components")(componentsOf(minhash))
    val ssDf = tr.span("llm.setsim") {
      val df = setsimDf(corpus)
      setsim = pairs(df); df
    }
    corpus.unpersist()
    val mhCand = Plans.candidateRows(mhDf.queryExecution).toDouble
    val ssCand = Plans.candidateRows(ssDf.queryExecution).toDouble
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    Map("functions.rows" -> sketched.toDouble,
      "llm.minhash.candidate_pairs" -> mhCand,
      "llm.minhash.verified_pairs" -> minhash.size.toDouble,
      "llm.minhash.useful_ratio" -> ratio(minhash.size, mhCand),
      "llm.setsim.candidate_pairs" -> ssCand,
      "llm.setsim.pairs" -> setsim.size.toDouble,
      "llm.setsim.useful_ratio" -> ratio(setsim.size, ssCand),
      "llm.setsim.hot_posting_docs" -> truth.boilerplateDocs.toDouble)
  }
}

final class CrawlWorkload(spark: SparkSession, work: File, cores: Int, files: Int,
                          records: Int) extends Workload {
  private val in = new File(work, "crawl-in")
  private val out = new File(work, "crawl-out")
  private var truth: Gen.CrawlTruth = _

  def generate(seed: Long): Long = {
    Workload.delete(in)
    truth = Gen.crawl(spark, in.getPath, seed, files, perFile = records / files,
      domains = 400, cap = 40)
    truth.inputChecksum
  }

  override def clean(): Unit = Workload.delete(out)

  /** media_id is the file number, as the keep-first rules order by it. */
  private def pages(): DataFrame =
    Warc.warcPathsDocText(spark, truth.paths).withColumn("media_id",
      regexp_extract(col("path"), "w(\\d+)\\.warc\\.gz$", 1).cast("long"))

  private def curate(p: DataFrame): DataFrame =
    Curation.v15Batch(p, truth.blockDomains, truth.domainCap)

  private def write(df: DataFrame): Unit =
    df.write.mode("overwrite").option("compression", "zstd").parquet(out.getPath)

  def run(): Unit = write(curate(pages()))

  def check(): Seq[String] = {
    import spark.implicits._
    val rows = spark.read.parquet(out.getPath)
      .select(col("media_id"), col("record_idx"), col("domain"), col("domain_rank"), col("url"))
      .as[(Long, Int, String, Long, String)].collect().toSeq
    Checks.crawl(rows, truth)
  }

  def traced(tr: Tracer): Map[String, Double] = {
    val (p, records) = tr.span("sources") {
      val df = pages().persist(StorageLevel.MEMORY_AND_DISK)
      (df, df.count())
    }
    val gated = tr.span("functions") {
      val df = Curation.v14Gates(p, truth.blockDomains).persist(StorageLevel.MEMORY_AND_DISK)
      val n = df.count()
      df.unpersist()
      n
    }
    val curated = tr.span("llm.curation") {
      val df = curate(p).persist(StorageLevel.MEMORY_AND_DISK)
      df.count(); df
    }
    tr.span("sink")(write(curated))
    curated.unpersist(); p.unpersist()
    val (mb, parts) = Workload.dirStats(out)
    Map("sources.input_mb" -> Workload.mb(truth.paths.map(new File(_).length).sum),
      "sources.records" -> records.toDouble,
      "functions.rows" -> gated.toDouble,
      "sink.output_mb" -> mb, "sink.files" -> parts.toDouble)
  }
}
