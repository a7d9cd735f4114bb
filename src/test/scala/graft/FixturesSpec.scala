package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** The memoized-artifact store: build once, atomic publish, loud publish
  * failures, bucketed re-registration. Every artifact here is keyed by a
  * fresh data dir no real run uses, and deleted afterwards. */
class FixturesSpec extends GraftSuite {

  private def entries(dataDir: String): Seq[java.nio.file.Path] = {
    val idx = Fixtures.root.resolve("idx")
    if (!Files.isDirectory(idx)) Seq.empty
    else {
      val ls = Files.list(idx)
      try ls.iterator.asScala
        .filter(_.getFileName.toString.contains(Fixtures.dirKey(dataDir)))
        .toList
      finally ls.close()
    }
  }

  private def withDataDir(body: String => Unit): Unit = {
    val dataDir = s"/fixtures-spec/${java.util.UUID.randomUUID()}"
    try body(dataDir)
    finally entries(dataDir).foreach(p => FileUtils.deleteQuietly(p.toFile))
  }

  private def mkdir(p: String): Unit = Files.createDirectories(Paths.get(p))

  test("a directory artifact builds once and every later call finds it") {
    withDataDir { d =>
      var builds = 0
      def get(): String = Fixtures.dir("spec_once", d) { p =>
        builds += 1
        mkdir(p)
        Files.write(Paths.get(p, "v"), "1".getBytes("UTF-8"))
      }
      val first = get()
      assert(get() === first)
      assert(builds === 1)
      assert(Paths.get(first).startsWith(Fixtures.root))
      assert(first.contains(Fixtures.dirKey(d)))
      assert(new String(Files.readAllBytes(Paths.get(first, "v")), "UTF-8") === "1")
    }
  }

  test("a builder that throws publishes nothing and the next call rebuilds") {
    withDataDir { d =>
      val e = intercept[RuntimeException] {
        Fixtures.dir("spec_throws", d) { p =>
          mkdir(p)
          Files.write(Paths.get(p, "half"), Array[Byte](1))
          throw new RuntimeException("builder crashed")
        }
      }
      assert(e.getMessage === "builder crashed")
      assert(entries(d).isEmpty, "neither the artifact nor its staging dir may remain")
      var builds = 0
      val path = Fixtures.dir("spec_throws", d) { p => builds += 1; mkdir(p) }
      assert(builds === 1)
      assert(Files.isDirectory(Paths.get(path)))
      assert(!Files.exists(Paths.get(path, "half")))
    }
  }

  test("publish: a lost race is benign, a failed rename with no winner throws") {
    val base = Files.createTempDirectory("fixtures_publish")
    try {
      // a concurrent winner already published: the rename onto its
      // non-empty dir fails, the loser's copy is discarded
      val dst = base.resolve("artifact")
      Files.createDirectories(dst.resolve("winner"))
      val tmp = base.resolve("artifact.tmp")
      Files.createDirectories(tmp.resolve("loser"))
      Fixtures.publish(tmp, dst)
      assert(!Files.exists(tmp))
      assert(Files.exists(dst.resolve("winner")))
      assert(!Files.exists(dst.resolve("loser")))
      // nothing to rename and nobody published: loud
      val e = intercept[IllegalStateException] {
        Fixtures.publish(base.resolve("gone.tmp"), base.resolve("gone"))
      }
      assert(e.getMessage.contains("no concurrent winner"))
    } finally FileUtils.deleteQuietly(base.toFile)
  }

  test("a bucketed artifact re-registers where the catalog lacks it and " +
      "joins on its key with zero index-side exchanges") {
    val s = spark
    import s.implicits._
    withDataDir { d =>
      var builds = 0
      def get(): String = Fixtures.index(s, "spec_bucketed", d, "k") {
        builds += 1
        (0L until 64L).map(i => (i, i * 2)).toDF("k", "v")
      }
      val tbl = get()
      // a later JVM's catalog: the table is gone, the files are not
      s.sql(s"DROP TABLE $tbl")
      assert(!s.catalog.tableExists(tbl))
      assert(get() === tbl)
      assert(builds === 1)
      assert(s.catalog.tableExists(tbl))

      val threshold = "spark.sql.autoBroadcastJoinThreshold"
      val prev = s.conf.get(threshold)
      s.conf.set(threshold, "-1")
      try {
        val plan = s.table(tbl).join((0L until 100L).toDF("k"), "k")
          .queryExecution.executedPlan
        def flatten(p: SparkPlan): Seq[SparkPlan] =
          p +: (p.children ++ (p match {
            case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
            case w: WholeStageCodegenExec => Seq(w.child)
            case _ => Seq.empty
          })).flatMap(flatten)
        def indexScans(p: SparkPlan): Seq[FileSourceScanExec] = flatten(p).collect {
          case f: FileSourceScanExec if f.tableIdentifier.exists(_.table == tbl) => f
        }
        assert(indexScans(plan).nonEmpty && indexScans(plan).forall(_.bucketedScan),
          s"the index side must scan bucketed:\n$plan")
        val exchanges = flatten(plan).collect { case e: ShuffleExchangeExec => e }
        assert(exchanges.nonEmpty, s"the probe side must shuffle:\n$plan")
        assert(exchanges.forall(e => indexScans(e).isEmpty),
          s"index-side exchange:\n$plan")
      } finally {
        s.conf.set(threshold, prev)
        s.sql(s"DROP TABLE IF EXISTS $tbl")
      }
    }
  }
}
