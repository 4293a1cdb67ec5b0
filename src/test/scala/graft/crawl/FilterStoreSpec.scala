package graft.crawl

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.io.TableIO
import graft.model.CrawlConfig

/** The file-backed filter store ([[FilterInventory]]) under lost files,
  * relative state dirs and inventory-only round dirs: each may cost time,
  * never rows. */
class FilterStoreSpec extends AnyFunSuite with SparkTestBase.TempDirs {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def bucketed(urls: Seq[String], buckets: Int): Seq[(String, Int, Long)] =
    urls.toDF("url").select(col("url"), SeenFilter.bucketOf(col("url"), buckets).cast("int"),
      xxhash64(col("url"))).as[(String, Int, Long)].collect().toSeq

  test("bloom merge: a lost referenced file makes its bucket dead, and it stays dead") {
    val base = tempDir("store-lost")
    val r0 = (0 until 800).map(i => s"u$i")
    SeenFilter.writeMergedBlooms(r0.toDF("url"), 8, 512, None, s"$base/round=0")
    val (victim, lost) = FilterInventory.read(s"$base/round=0", conf).get.minBy(_._1)
    val lostPath = new HPath(lost)
    assert(lostPath.getFileSystem(conf).delete(lostPath, false))
    // later slices that touch the victim bucket (and a few others)
    val later = bucketed((1000 until 1400).map(i => s"u$i"), 8)
    val (hit, miss) = later.partition(_._2 == victim)
    val slice1 = hit.take(3).map(_._1) ++ miss.take(3).map(_._1)
    val slice2 = hit.slice(3, 6).map(_._1) ++ miss.slice(3, 6).map(_._1)
    SeenFilter.writeMergedBlooms(slice1.toDF("url"), 8, 512, Some(s"$base/round=0"), s"$base/round=1")
    SeenFilter.writeMergedBlooms(slice2.toDF("url"), 8, 512, Some(s"$base/round=1"), s"$base/round=2")
    val lostMembers = bucketed(r0, 8).filter(_._2 == victim)
    assert(lostMembers.nonEmpty)
    for (round <- 1 to 2) {
      val probe = SeenFilter.broadcastFileBlooms(spark, 8, s"$base/round=$round")
      lostMembers.foreach { case (u, b, h) =>
        assert(probe.value.mightContain(b, h), s"round $round: $u probes definitely-new")
      }
      // every url merged so far still probes maybe-seen
      bucketed(r0 ++ slice1 ++ (if (round == 2) slice2 else Nil), 8).foreach { case (u, b, h) =>
        assert(probe.value.mightContain(b, h), s"round $round: $u missing")
      }
      probe.destroy()
    }
  }

  test("a stale .dead marker from a crashed attempt never kills a bucket the redo writes live") {
    val base = tempDir("store-stale")
    SeenFilter.writeMergedBlooms((0 until 800).map(i => s"u$i").toDF("url"), 8, 512, None,
      s"$base/round=0")
    val slice = bucketed((1000 until 1100).map(i => s"u$i"), 8)
    val victim = slice.head._2
    // a crashed attempt at round 1 left a dead marker for the victim and no
    // inventory; the redo of round 1 touches the victim and writes it live
    val fs = new HPath(base).getFileSystem(conf)
    fs.create(new HPath(s"$base/round=1/bucket=$victim.dead"), true).close()
    SeenFilter.writeMergedBlooms(slice.take(4).map(_._1).toDF("url"), 8, 512,
      Some(s"$base/round=0"), s"$base/round=1")
    assert(FilterInventory.read(s"$base/round=1", conf).get.contains(victim))
    // round 2 merges into round 1: the victim must stay live, not go dead
    SeenFilter.writeMergedBlooms(slice.slice(4, 8).map(_._1).toDF("url"), 8, 512,
      Some(s"$base/round=1"), s"$base/round=2")
    assert(FilterInventory.read(s"$base/round=2", conf).get.contains(victim),
      s"bucket $victim went dead in round 2")
    assert(!fs.exists(new HPath(s"$base/round=2/bucket=$victim.dead")))
  }

  test("a relative state dir: GC keeps every file the live inventories reference, resume is exact") {
    val g = SimCrawler.deepCrawlWeb(2)
    val (pagesDf, robotsDf, redirectsDf) = graft.synth.Synth.toDfs(spark, g)
    val cfg = CrawlConfig(hostQuotaPerRound = 1, useCuckooFrontier = true,
      seenCompactEvery = 1, runId = "store-relative")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("round", "url", "crawl_status", "depth", "final_url", "text")
        .collect().map(_.toString).sorted.toSeq
    val full = CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf, cfg,
      tempDir("store-abs"))
    // relative to the working directory; target/ is build output
    val rel = s"target/filter-store-spec/rel-${java.util.UUID.randomUUID()}"
    val io = new TableIO(spark, rel)
    try {
      var round = 0
      var more = true
      while (more) {
        val job = CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf,
          cfg.copy(maxRounds = round + 1), rel, resume = round > 0)
        more = job.rounds == round + 1
        if (more) {
          for (dir <- Seq(io.bloomsDir(round), io.cuckooDir(round))) {
            val inv = FilterInventory.read(dir, conf)
            assert(inv.exists(_.nonEmpty), s"round $round: no inventory in $dir")
            inv.get.values.foreach { p =>
              val path = new HPath(p)
              assert(path.getFileSystem(conf).exists(path), s"round $round: $p was collected")
            }
          }
          round += 1
        } else assert(rows(job.results) == rows(full.results))
      }
      assert(round == full.rounds)
    } finally {
      val root = new HPath(rel)
      root.getFileSystem(conf).delete(root, true)
    }
  }

  test("resumedCap resolves through the inventory: a round dir holding no .cf file of its own") {
    val base = tempDir("store-cap")
    val urls = (0 until 64).map(i => s"https://h.test/$i").toDF("url")
    FrontierFilter.writeFromUrls(urls, 4, 5000L, s"$base/round=0")
    // an empty delta: round 1 references every live file in round 0
    val none = spark.emptyDataset[String].toDF("url")
    FrontierFilter.writeDeltas(none, none, 4, 5000L, s"$base/round=0", s"$base/round=1")
    assert(!new java.io.File(s"$base/round=1").list().exists(_.endsWith(".cf")))
    val cap = FrontierFilter.resumedCap(s"$base/round=1", spark)
    assert(cap.exists(_ >= 5000L), s"resumed capacity $cap")
    assert(CuckooFilter.create(cap.get).numBuckets == CuckooFilter.create(5000L).numBuckets)
  }
}
