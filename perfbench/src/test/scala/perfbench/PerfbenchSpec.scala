package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.TeraSort

/** The benchmark's own tests: generators are deterministic per seed, and
  * every planted-truth check rejects a deliberately corrupted output. */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
  private lazy val dir = Files.createTempDirectory("perfbench-spec").toFile

  override def afterAll(): Unit = {
    spark.stop()
    Workload.delete(dir)
  }

  private def path(name: String) = new File(dir, name).getPath

  test("terasort generator: same seed, same input; another seed, another") {
    val a = Gen.terasort(spark, path("t1"), 2000, seed = 1, parts = 2)
    val b = Gen.terasort(spark, path("t2"), 2000, seed = 1, parts = 2)
    val c = Gen.terasort(spark, path("t3"), 2000, seed = 2, parts = 2)
    assert(a == b)
    assert(a.rows == 2000 && a.checksum != c.checksum)
  }

  test("neardup generator: same seed, same corpus and clusters; another seed, another") {
    val a = Gen.neardup(spark, path("n1"), seed = 1, docs = 400, parts = 2)
    val b = Gen.neardup(spark, path("n2"), seed = 1, docs = 400, parts = 2)
    val c = Gen.neardup(spark, path("n3"), seed = 2, docs = 400, parts = 2)
    assert(a == b)
    assert(a.inputChecksum != c.inputChecksum && a.pairs != c.pairs)
    assert(a.pairs.nonEmpty && a.boilerplateDocs > 0)
  }

  test("crawl generator: same seed, same files and fates; another seed, another") {
    def gen(name: String, seed: Long) =
      Gen.crawl(spark, path(name), seed, files = 2, perFile = 120, domains = 10, cap = 5)
    val a = gen("c1", 1)
    val b = gen("c2", 1)
    val c = gen("c3", 2)
    assert(a.inputChecksum == b.inputChecksum && a.survivors == b.survivors)
    assert(a.inputChecksum != c.inputChecksum)
    assert(Gen.Fate.values.forall(f => a.fates.getOrElse(f, 0) > 0),
      s"every fate planted: ${a.fates}")
  }

  test("terasort check accepts the sorted output and rejects one dropped row") {
    val truth = Gen.terasort(spark, path("tc"), 3000, seed = 5, parts = 3)
    val sorted = TeraSort.sort(spark.read.parquet(path("tc"))).persist()
    assert(Checks.terasort(sorted, truth).isEmpty)
    val dropped = sorted.limit(2999)
    assert(Checks.terasort(dropped, truth).exists(_.startsWith("rows 2999")))
    val unsorted = spark.read.parquet(path("tc"))
    assert(Checks.terasort(unsorted, truth).exists(_.contains("not sorted")))
  }

  test("neardup check accepts the planted pairs and rejects one extra pair") {
    val truth = Gen.neardup(spark, path("nc"), seed = 3, docs = 300, parts = 2)
    assert(Checks.neardup(truth.pairs, truth.comps, truth.pairs, truth).isEmpty)
    val unrelated = (0L until 300L).filterNot(truth.comps.contains).take(2)
    val extra = truth.pairs + ((unrelated(0), unrelated(1)))
    val errs = Checks.neardup(extra, truth.comps, truth.pairs, truth)
    assert(errs.exists(_.contains("1 extra")), errs)
    assert(errs.exists(_.contains("differ in 1 pairs")), errs)
    assert(Checks.neardup(truth.pairs, truth.comps - truth.comps.keys.head, truth.pairs, truth)
      .exists(_.startsWith("components")))
  }

  test("crawl check accepts the planted survivors and rejects an extra one") {
    val truth = Gen.crawl(spark, path("cc"), 9, files = 2, perFile = 120, domains = 10, cap = 5)
    val plan = Gen.crawlPlan(9, files = 2, perFile = 120, domains = 10, cap = 5)
    def row(r: Gen.Rec, rank: Long) = {
      val host = r.url.stripPrefix("http://").takeWhile(_ != '/')
      (r.file.toLong, r.idx, host.stripPrefix("www."), rank, r.url)
    }
    val rows = plan.filter(_.fate == Gen.Fate.Survivor).map(row(_, 1))
    assert(Checks.crawl(rows, truth).isEmpty)
    val overCap = plan.find(_.fate == Gen.Fate.OverCap).get
    assert(Checks.crawl(rows :+ row(overCap, 1), truth).exists(_.contains("1 extra")))
    val blocked = plan.find(_.fate == Gen.Fate.Blocked).get
    assert(Checks.crawl(rows :+ row(blocked, 1), truth).exists(_.contains("blocked")))
    assert(Checks.crawl(rows.updated(0, rows.head.copy(_4 = 6L)), truth)
      .exists(_.contains("cap 5")))
  }
}
