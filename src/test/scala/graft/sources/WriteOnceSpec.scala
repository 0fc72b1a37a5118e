package graft.sources

import graft.TempDirs.withTempDir
import graft.TestSession.spark
import org.scalatest.funsuite.AnyFunSuite

import java.io.File

/** The write-once contract of [[FileSources.writeOnce]]: a cache counts as
  * complete only when its whole body returned, whatever Spark wrote on the
  * way; scratch space never outlives the body; and the key covers the build
  * that wrote the cache, so a rebuilt library evicts and rewrites it. Also
  * the staged-input contract: [[FileSources.replay]] reads what
  * [[FileSources.stageFiles]] laid out, one file per micro-batch in
  * position order.
  */
class WriteOnceSpec extends AnyFunSuite {

  private def names(dir: String): Set[String] =
    Option(new File(dir).list()).map(_.toSet).getOrElse(Set.empty)

  test("a body that writes its data and then throws runs again on the next call") {
    spark.sparkContext.setLogLevel("WARN")
    withTempDir("graft-write-once") { tmp =>
      val out = s"$tmp/cache_1"
      var runs = 0
      val e = intercept[IllegalStateException] {
        FileSources.writeOnce(out) { (o, _) =>
          runs += 1
          spark.range(10).write.mode("overwrite").parquet(o) // Spark drops _SUCCESS here
          throw new IllegalStateException("a later step of the body failed")
        }
      }
      assert(e.getMessage.contains("later step"))
      assert(!new File(out).exists(), "the torn directory must be deleted")
      FileSources.writeOnce(out) { (o, _) =>
        runs += 1
        spark.range(7).write.mode("overwrite").parquet(o)
      }
      assert(runs == 2, "the torn directory was served as a complete cache")
      assert(spark.read.parquet(out).count() == 7)
    }
  }

  test("a body that writes only subdirectories runs once across two calls") {
    withTempDir("graft-write-once") { tmp =>
      val out = s"$tmp/cache_2"
      var runs = 0
      def call(): Unit = FileSources.writeOnce(out) { (o, _) =>
        runs += 1
        spark.range(5).write.mode("overwrite").parquet(s"$o/small")
        spark.range(5).write.mode("overwrite").parquet(s"$o/compacted")
      }
      call()
      call()
      assert(runs == 1, s"the body ran $runs times")
      assert(spark.read.parquet(s"$out/compacted").count() == 5)
    }
  }

  test("no scratch dir or raw staging dir outlives the body, on success or on a throw") {
    withTempDir("graft-write-once") { tmp =>
      // distinct tags: a same-tag sibling with another hex key is evicted
      import spark.implicits._
      val chunks = Seq((1L, 0), (2L, 0), (3L, 1), (4L, 2)).toDF("x", "chunk")
      val scratches = Seq.newBuilder[String]
      FileSources.writeOnce(s"$tmp/staged_1") { (o, scratch) =>
        scratches += scratch
        assert(new File(scratch).isDirectory && names(scratch).isEmpty)
        FileSources.stageFiles(chunks, scratch, o, "chunk", chunked = true)
      }
      val staged = new File(s"$tmp/staged_1").listFiles().filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName)
      assert(staged.map(_.getName).toSeq ==
        Seq("chunk_000.parquet", "chunk_001.parquet", "chunk_002.parquet"))
      assert(staged.map(_.lastModified).toSeq ==
        Seq(1600000000000L, 1600000060000L, 1600000120000L))
      assert(spark.read.parquet(staged(1).getPath).as[Long].collect().toSeq == Seq(3L))
      intercept[IllegalStateException] {
        FileSources.writeOnce(s"$tmp/thrown_1") { (o, scratch) =>
          scratches += scratch
          FileSources.stageFiles(chunks.filter($"chunk" =!= 1), scratch, o, "chunk", chunked = true)
          throw new IllegalStateException("failed after staging")
        }
      }
      assert(scratches.result().forall(s => !new File(s).exists()))
      assert(names(tmp) == Set("staged_1"), s"left behind: ${names(tmp)}")
    }
  }

  test("replay reads staged files one micro-batch each, in position order, under the staged schema") {
    import org.apache.spark.sql.{DataFrame, Dataset, Row}
    import org.apache.spark.sql.types.StructType
    spark.sparkContext.setLogLevel("WARN")
    withTempDir("graft-replay") { tmp =>
      val schema = StructType.fromDDL(
        "id LONG, v DOUBLE, s STRING, t TIMESTAMP, a ARRAY<FLOAT>")
      def frame(id: Long): DataFrame = spark.createDataFrame(
        java.util.List.of(Row(id, id * 0.5, s"s$id",
          java.sql.Timestamp.valueOf("2020-01-01 00:00:00"), Seq(id.toFloat))), schema)
      val in = s"$tmp/in"
      // positions run against name order: c replays first, a last
      for ((name, id, position) <- Seq(("a", 1L, 2), ("b", 2L, 1), ("c", 3L, 0)))
        FileSources.stageFiles(frame(id), tmp, in, name, position)
      val replayed = FileSources.replay(spark, in)
      assert(replayed.schema == schema)
      val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
      graft.queries.StreamRun(width = None,
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .run(spark)(replayed)(_.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          batches.synchronized {
            batches += batchId -> batch.collect().map(_.getLong(0)).toSeq
          }: Unit
        }.option("checkpointLocation", s"$tmp/chk"))
      assert(batches.toSeq == Seq(0L -> Seq(3L), 1L -> Seq(2L), 2L -> Seq(1L)))
    }
  }

  test("a partial directory left by a killed run is cleared before the body runs") {
    withTempDir("graft-write-once") { tmp =>
      val out = s"$tmp/cache_5"
      new File(s"$out/stale").mkdirs()
      new File(s"$out.scratch/stale").mkdirs()
      FileSources.writeOnce(out) { (o, scratch) =>
        assert(!new File(o).exists(), s"stale entries in $o: ${names(o)}")
        assert(names(scratch).isEmpty, s"stale entries in $scratch: ${names(scratch)}")
        new File(o).mkdirs(): Unit
      }
      assert(!names(out).contains("stale"))
      assert(names(tmp) == Set("cache_5"))
    }
  }

  test("a cache written by an older build is evicted on the first write under the new one") {
    withTempDir("graft-write-once-data") { data =>
      java.nio.file.Files.writeString(new File(data, "src.bin").toPath, "source")
      val out = FileSources.cacheDir("wotest", data, "src.bin")
      val older = out.stripSuffix(FileSources.buildFingerprint) +
        (if (FileSources.buildFingerprint == "0" * 16) "1" * 16 else "0" * 16)
      try {
        assert(out.endsWith("b" + FileSources.buildFingerprint),
          s"the key $out does not cover the build ${FileSources.buildFingerprint}")
        // an older build's cache, and the scratch its killed run left
        new File(s"$older/part-0.parquet").mkdirs()
        new File(s"$older.scratch/in").mkdirs()
        var runs = 0
        FileSources.writeOnce(out) { (o, _) => runs += 1; new File(o).mkdirs(): Unit }
        assert(runs == 1)
        assert(!new File(older).exists() && !new File(s"$older.scratch").exists(),
          "the older build's cache survived the new build's first write")
        FileSources.writeOnce(out) { (_, _) => runs += 1 }
        assert(runs == 1)
      } finally Seq(out, older, s"$older.scratch")
        .foreach(p => FileSources.deleteRecursively(new File(p)))
    }
  }

  test("the stale-sibling rule: a different hex key is stale, the live name and a longer dataset name are not") {
    val live = "graft_x_tmp_sf0_1_3fa9b00c"
    assert(FileSources.isStaleSibling("graft_x_tmp_sf0_1_0badf00d", live))
    assert(FileSources.isStaleSibling("graft_x_tmp_sf0_1_0badf00d.scratch", live))
    assert(FileSources.isStaleSibling(s"$live.scratch", live))
    assert(!FileSources.isStaleSibling(live, live))
    assert(!FileSources.isStaleSibling("graft_x_tmp_sf0_1_v2_0badf00d", live))
    assert(!FileSources.isStaleSibling("graft_x_tmp_sf0_1_0BADF00D", live))
    assert(!FileSources.isStaleSibling("graft_x_tmp_sf0_1_", live))
    assert(!FileSources.isStaleSibling("0badf00d", "3fa9b00c"))
  }

  test("q_catalog_stats drops an orphan graft_cbo table; the live table and a _v2 dataset's survive") {
    import spark.implicits._
    withTempDir("graft-cbo") { dir =>
      Seq((1L, 10L), (2L, 10L), (3L, 20L)).toDF("o_orderkey", "o_custkey")
        .write.parquet(s"$dir/orders.parquet")
      val prefix = s"orders_${dir.replaceAll("[^A-Za-z0-9]", "_")}_".toLowerCase(java.util.Locale.ROOT)
      val orphan = s"${prefix}0badf00d"
      val v2 = s"${prefix}v2_0badf00d"
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_cbo")
      def tables() = spark.sql("SHOW TABLES IN graft_cbo").collect()
        .map(_.getAs[String]("tableName")).filter(_.startsWith(prefix)).toSet
      try {
        Seq(orphan, v2).foreach(n =>
          spark.sql(s"CREATE TABLE graft_cbo.$n USING parquet LOCATION '$dir/orders.parquet'"))
        assert(tables() == Set(orphan, v2))
        val rows = graft.SparkEntry.queries("q_catalog_stats")(spark, dir).collect()
        // the live table outlived the reclaim: ANALYZE and read-back completed on it
        assert(rows.map(r => (r.getString(0), r.getLong(4))).toSet ==
          Set(("o_orderkey", 3L), ("o_custkey", 3L)))
        assert(tables() == Set(v2), s"left behind: ${tables()}")
      } finally tables().foreach(n => spark.sql(s"DROP TABLE IF EXISTS graft_cbo.$n"))
    }
  }
}
