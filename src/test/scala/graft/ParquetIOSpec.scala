package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, TimestampType}

import graft.model.Model
import graft.sources.ParquetIO

/** The file-source resolver: a table's schema is inferred once per file
  * version and later reads pin it, with no Spark job before the sink. */
class ParquetIOSpec extends GraftSuite {

  private def withTempDir(body: String => Unit): Unit = {
    val d = Files.createTempDirectory("parquetio_spec")
    try body(d.toString)
    finally FileUtils.deleteQuietly(d.toFile)
  }

  /** A parquet file written without Spark's schema metadata, so
    * inference reads the parquet types themselves. */
  private def writeExample(file: String, schema: String)(
      rows: Seq[Group => Group]): Unit = {
    val mt = MessageTypeParser.parseMessageType(schema)
    val conf = new Configuration()
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(file), conf))
      .withType(mt).withConf(conf).build()
    val f = new SimpleGroupFactory(mt)
    try rows.foreach(r => w.write(r(f.newGroup())))
    finally w.close()
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a second compile of a parquet table submits no Spark job before the sink") {
    withTempDir { dir =>
      spark.range(200).selectExpr("id AS o_orderkey", "id % 7 AS o_custkey",
        "CAST(id AS DOUBLE) * 1.5 AS o_totalprice")
        .write.parquet(s"$dir/orders.parquet")
      def compile(): DataFrame = Model.parquet(dir, "orders").run(spark)
      // the cold compile infers the schema with a job; the warm one pins it
      val (cold, coldJobs) = withJobs(compile())
      val (warm, warmJobs) = withJobs(compile())
      assert(coldJobs > 0)
      assert(warmJobs === 0)
      assert(warm.schema === cold.schema)
      assert(sortedRows(warm) === sortedRows(cold))
      assert(warm.count() === 200L)
    }
  }

  test("overwriting a path with a different column set is read with the new schema") {
    withTempDir { dir =>
      val path = s"$dir/t.parquet"
      spark.range(3).selectExpr("id AS a", "id * 2 AS b").write.parquet(path)
      assert(ParquetIO.read(spark, path).columns.toSeq === Seq("a", "b"))
      spark.range(4).selectExpr("id AS a", "CAST(id AS STRING) AS c", "id AS d")
        .write.mode("overwrite").parquet(path)
      val again = ParquetIO.read(spark, path)
      assert(again.columns.toSeq === Seq("a", "c", "d"))
      assert(again.schema("c").dataType === StringType)
      assert(again.count() === 4L)
    }
  }

  test("flipping spark.sql.parquet.binaryAsString between reads changes the resolved type") {
    withTempDir { dir =>
      val path = s"$dir/bin.parquet"
      writeExample(path,
        "message m { required int64 id; required binary payload; }")(
        Seq(1L, 2L).map(i => (g: Group) =>
          g.append("id", i).append("payload", s"p$i")))
      val s = spark.newSession() // keeps the conf flip off the shared session
      assert(ParquetIO.read(s, path).schema("payload").dataType === BinaryType)
      s.conf.set("spark.sql.parquet.binaryAsString", "true")
      val asString = ParquetIO.read(s, path)
      assert(asString.schema("payload").dataType === StringType)
      assert(asString.orderBy("id").collect().map(_.getString(1)).toSeq ===
        Seq("p1", "p2"))
      s.conf.unset("spark.sql.parquet.binaryAsString")
      assert(ParquetIO.read(s, path).schema("payload").dataType === BinaryType)
    }
  }

  test("a writeCorpus partitioned directory reads through the memo like a plain read") {
    withTempDir { root =>
      val s = spark
      import s.implicits._
      val dir = s"$root/corpus"
      val df = Seq((1L, "en", "alpha"), (2L, "de", "beta"), (3L, "en", "gamma"))
        .toDF("doc_id", "lang", "text")
      ParquetIO.writeCorpus(df, dir, partitionBy = Seq("lang"), sortBy = Seq("doc_id"))
      val plain = s.read.parquet(dir)
      val cold = ParquetIO.read(s, dir)
      val (warm, warmJobs) = withJobs(ParquetIO.read(s, dir))
      assert(warmJobs === 0)
      Seq(cold, warm).foreach { got =>
        assert(got.schema === plain.schema)
        assert(got.columns.last === "lang") // partition column after data
        assert(sortedRows(got) === sortedRows(plain))
      }
      assert(warm.where("lang = 'en'").count() === 2L)
    }
  }

  test("a TIMESTAMP(NANOS) file reads twice as TimestampType with exact micros") {
    withTempDir { dir =>
      val path = s"$dir/nanos.parquet"
      val nanos = Seq(1700000000123456789L, 1700000000000000999L, 86400000000001L)
      writeExample(path,
        "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")(
        nanos.zipWithIndex.map { case (n, i) =>
          (g: Group) => g.append("id", i.toLong).append("ts", n) })
      val s: SparkSession = spark.newSession() // the nanos conf stays local
      def micros(): Seq[Long] = {
        val df = ParquetIO.read(s, path)
        assert(df.schema("ts").dataType === TimestampType)
        assert(df.schema("id").dataType === LongType)
        df.orderBy("id").selectExpr("unix_micros(ts)").collect()
          .map(_.getLong(0)).toSeq
      }
      val want = nanos.map(_ / 1000)
      assert(micros() === want)
      assert(withJobs(ParquetIO.read(s, path))._2 === 0)
      assert(micros() === want)
    }
  }

  test("csv and json sources resolve once and read the same rows pinned") {
    withTempDir { dir =>
      val rows = spark.range(5).selectExpr("id AS k", "CAST(id * 3 AS STRING) AS v")
      rows.coalesce(1).write.option("header", "true").csv(s"$dir/t.csv")
      rows.coalesce(1).write.json(s"$dir/t.json")
      Seq(Model.csv(s"$dir/t.csv"), Model.json(s"$dir/t.json")).foreach { m =>
        val (cold, coldJobs) = withJobs(m.run(spark))
        val (warm, warmJobs) = withJobs(m.run(spark))
        assert(coldJobs > 0)
        assert(warmJobs === 0)
        assert(warm.schema === cold.schema)
        assert(sortedRows(warm) === sortedRows(cold))
      }
    }
  }

  test("a glob path is never memoized: every read infers again") {
    withTempDir { dir =>
      spark.range(3).toDF("x").write.parquet(s"$dir/g/part1")
      val glob = s"$dir/g/*"
      assert(withJobs(ParquetIO.read(spark, glob))._2 > 0)
      assert(withJobs(ParquetIO.read(spark, glob))._2 > 0)
      assert(ParquetIO.read(spark, glob).count() === 3L)
    }
  }
}
