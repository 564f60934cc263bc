package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.meta.TableInfo
import graft.tables.GraftTable

/** End-to-end slice of SURVEY.md §7.3: create PK table → upsert overlapping
  * batches → merged read; plus update/delete/compaction/time-travel/
  * incremental — mirrors the reference's command suites (UpsertSuiteBase,
  * UpdateSuiteBase, DeleteSuiteBase, CompactionSuite, ReadSuite patterns). */
class TableCoreSuite extends SparkFixture {
  import spark.implicits._

  test("create + append + read roundtrip (no PK)") {
    withTempPath { path =>
      val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
      val t = GraftTable.create(spark, df, path)
      assertRows(t.toDF, Seq("[1,a]", "[2,b]"))
      t.append(Seq((3, "c")).toDF("id", "v"))
      assertRows(t.toDF, Seq("[1,a]", "[2,b]", "[3,c]"))
    }
  }

  test("upsert: last-writer-wins merge on read (the §7.3 slice)") {
    withTempPath { path =>
      val seed = Seq((20201101, 1, 1), (20201101, 2, 2), (20201101, 3, 3),
        (20201102, 4, 4)).toDF("range", "hash", "value")
      val t = GraftTable.create(spark, seed, path,
        rangeColumns = Seq("range"), hashColumns = Seq("hash"), bucketNum = 2)
      t.upsert(Seq((20201101, 1, 11), (20201101, 5, 55)).toDF("range", "hash", "value"))
      assertRows(t.toDF, Seq(
        "[20201101,1,11]", "[20201101,2,2]", "[20201101,3,3]",
        "[20201102,4,4]", "[20201101,5,55]"))
    }
  }

  test("upsert: three overlapping batches, later null overwrites (use_last)") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((1, Some("a")), (2, Some("b"))).toDF("id", "v"),
        path, hashColumns = Seq("id"), bucketNum = 2)
      t.upsert(Seq((1, Some("a2")), (3, Some("c"))).toDF("id", "v"))
      t.upsert(Seq((2, None: Option[String])).toDF("id", "v"))
      assertRows(t.toDF, Seq("[1,a2]", "[2,null]", "[3,c]"))
    }
  }

  test("merge operators: sum_all, joined_all_by_comma, use_last_not_null") {
    withTempPath { path =>
      val props = Map(
        TableInfo.mergeOpProp("s") -> "sum_all",
        TableInfo.mergeOpProp("tags") -> "joined_all_by_comma",
        TableInfo.mergeOpProp("ln") -> "use_last_not_null")
      val t = GraftTable.create(spark,
        Seq((1, 10L, "a", Some("x")), (2, 20L, "b", Some("y")))
          .toDF("id", "s", "tags", "ln"),
        path, hashColumns = Seq("id"), bucketNum = 2, properties = props)
      t.upsert(Seq((1, 5L, "c", None: Option[String])).toDF("id", "s", "tags", "ln"))
      t.upsert(Seq((1, 2L, "d", None: Option[String])).toDF("id", "s", "tags", "ln"))
      // id=1: s=10+5+2, tags="a,c,d", ln last-non-null = "x"
      assertRows(t.toDF, Seq("[1,17,a,c,d,x]", "[2,20,b,y]"))
    }
  }

  test("sum_all: any null contribution -> null") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((1, Some(10L))).toDF("id", "s"), path,
        hashColumns = Seq("id"), bucketNum = 1,
        properties = Map(TableInfo.mergeOpProp("s") -> "sum_all"))
      t.upsert(Seq((1, None: Option[Long])).toDF("id", "s"))
      assertRows(t.toDF, Seq("[1,null]"))
    }
  }

  test("update command") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("id", "name", "v"),
        path, hashColumns = Seq("id"), bucketNum = 2)
      t.update($"v" > 15, Map("name" -> upper($"name"), "v" -> ($"v" + 1)))
      assertRows(t.toDF, Seq("[1,a,10]", "[2,B,21]", "[3,C,31]"))
    }
  }

  test("delete command: predicate and truncate") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((1, 10), (2, 20), (3, 30)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 2)
      t.delete($"v" >= 30)
      assertRows(t.toDF, Seq("[1,10]", "[2,20]"))
      t.delete()
      assert(t.toDF.count() == 0)
    }
  }

  test("delete whole range partition expires it") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq(("p1", 1, 1), ("p2", 2, 2)).toDF("r", "id", "v"), path,
        rangeColumns = Seq("r"), hashColumns = Seq("id"), bucketNum = 1)
      t.delete($"r" === "p1")
      assertRows(t.toDF, Seq("[p2,2,2]"))
    }
  }

  test("compaction collapses runs and preserves results") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((1, 1), (2, 2)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 2)
      (1 to 5).foreach(i => t.upsert(Seq((1, i * 100), (i + 10, i)).toDF("id", "v")))
      val before = t.toDF.collect().map(_.toString).sorted
      t.compaction()
      val after = t.toDF.collect().map(_.toString).sorted
      assert(before.toSeq == after.toSeq)
      // compacted: every partition is a single run again
      assert(t.partitions.forall(_.snapshot.size == 1))
    }
  }

  test("time travel: snapshotAt sees the old state") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((1, "v1")).toDF("id", "v"), path, hashColumns = Seq("id"), bucketNum = 1)
      val ts1 = t.lastCommitTs
      t.upsert(Seq((1, "v2"), (2, "w")).toDF("id", "v"))
      assertRows(t.snapshotAt(ts1), Seq("[1,v1]"))
      assertRows(t.toDF, Seq("[1,v2]", "[2,w]"))
    }
  }

  test("incremental read returns only the delta in range") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((1, "a")).toDF("id", "v"), path, hashColumns = Seq("id"), bucketNum = 1)
      val ts1 = t.lastCommitTs
      t.upsert(Seq((2, "b")).toDF("id", "v"))
      t.upsert(Seq((3, "c")).toDF("id", "v"))
      val ts2 = t.lastCommitTs
      assertRows(t.incremental(ts1, ts2), Seq("[2,b]", "[3,c]"))
      // update commit aborts incremental (DataOperation.scala:209-254)
      t.update(lit(true), Map("v" -> lit("z")))
      assert(t.incremental(ts1, t.lastCommitTs).count() == 0)
    }
  }

  test("rollback partition to old version") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((1, "v1")).toDF("id", "v"), path, hashColumns = Seq("id"), bucketNum = 1)
      t.upsert(Seq((1, "v2")).toDF("id", "v"))
      t.rollbackPartition(TableInfo.RootPartition, 0)
      assertRows(t.toDF, Seq("[1,v1]"))
    }
  }

  test("cdc table hides delete tombstones; compaction rewrites markers") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((1, "a", "insert"), (2, "b", "insert")).toDF("id", "data", "op"),
        path, hashColumns = Seq("id"), bucketNum = 2,
        properties = Map(TableInfo.CdcColumnProp -> "op"))
      t.upsert(Seq((1, "a2", "update"), (2, "b", "delete"), (3, "c", "insert"))
        .toDF("id", "data", "op"))
      assertRows(t.toDF, Seq("[1,a2,update]", "[3,c,insert]"))
      // incremental-style read keeps tombstones
      assert(t.incremental(0L, t.lastCommitTs).count() == 3)
      t.compaction()
      assertRows(t.toDF, Seq("[1,a2,insert]", "[3,c,insert]"))
    }
  }

  test("schema evolution: upsert with new column; old rows read null; "
    + "absent column does not overwrite") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((1, "a"), (2, "b")).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 1)
      t.upsert(Seq((2, "b2", 99)).toDF("id", "v", "extra"))
      assertRows(t.toDF, Seq("[1,a,null]", "[2,b2,99]"))
      // a later batch WITHOUT column v must not null out v for id=2
      t.upsert(Seq((2, 100)).toDF("id", "extra"))
      assertRows(t.toDF, Seq("[1,a,null]", "[2,b2,100]"))
    }
  }

  test("schema evolution routes through the bucket fast path (no exchange)") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((1, "a", 10.0), (2, "b", 20.0)).toDF("id", "v", "w"), path,
        hashColumns = Seq("id"), bucketNum = 2)
      t.upsert(Seq((2, "b2", 21.0, 7L)).toDF("id", "v", "w", "extra"))
      val df = t.toDF
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"evolved merge fell back to the aggregate path:\n$plan")
      assertRows(df, Seq("[1,a,10.0,null]", "[2,b2,21.0,7]"))
      // explicit null in a present column DOES overwrite; absent does not
      t.upsert(Seq((1, null.asInstanceOf[String], 11.0, 1L))
        .toDF("id", "v", "w", "extra"))
      assertRows(t.toDF, Seq("[1,null,11.0,1]", "[2,b2,21.0,7]"))
    }
  }

  test("tiered update: PK-equality rewrites only the key's bucket") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1 to 100).map(i => (i.toLong, i * 1.0)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 4)
      val before = t.liveFiles.map(f => (f.file.path, f.file.size, f.file.bucketId))
      t.update(col("id") === 7L, Map("v" -> lit(777.0)))
      val after = t.liveFiles.map(f => (f.file.path, f.file.size, f.file.bucketId))
      // untouched buckets keep byte-identical file lists (bucket id from the
      // meta, not the path — flat-bucket commits carry no __g_bucket dir)
      val bucket7 = graft.write.TransactionalWrite.bucketOf(
        spark, t.schema, Seq("id" -> 7L), 4)
      val beforeOther = before.filterNot(_._3 == bucket7)
      val afterOther = after.filterNot(_._3 == bucket7)
      assert(beforeOther.toSet == afterOther.toSet,
        s"untouched buckets changed:\nbefore=$beforeOther\nafter=$afterOther")
      assert(t.toDF.filter(col("id") === 7L).head.getDouble(1) == 777.0)
      assert(t.toDF.count() == 100)
      assert(t.toDF.filter(col("v") === 777.0).count() == 1)
    }
  }

  test("tiered delete: partition-only predicate is metadata-only; " +
    "targeted update leaves sibling partitions byte-identical") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq(("p1", 1, 1.0), ("p1", 2, 2.0), ("p2", 3, 3.0), ("p3", 4, 4.0))
          .toDF("r", "id", "v"), path,
        rangeColumns = Seq("r"), hashColumns = Seq("id"), bucketNum = 2)
      val filesP2 = t.liveFiles.filter(_.partitionDesc == "r=p2")
        .map(f => (f.file.path, f.file.size)).toSet

      // metadata-only delete: no new data files may appear for p1
      val allPathsBefore = t.liveFiles.map(_.file.path).toSet
      t.delete(col("r") === "p3")
      assert(t.toDF.filter(col("r") === "p3").count() == 0)
      assert(t.liveFiles.map(_.file.path).toSet.subsetOf(allPathsBefore),
        "metadata-only delete wrote data files")

      // targeted update of p1 leaves p2's file list byte-identical
      t.update(col("r") === "p1" && col("v") < 2.0, Map("v" -> lit(9.0)))
      val filesP2After = t.liveFiles.filter(_.partitionDesc == "r=p2")
        .map(f => (f.file.path, f.file.size)).toSet
      assert(filesP2 == filesP2After)
      assertRows(t.toDF, Seq("[p1,1,9.0]", "[p1,2,2.0]", "[p2,3,3.0]"))
    }
  }

  test("meta store: snapshot resolution is cached — repeat reads are " +
    "stat-only, commits parse only the appended lines") {
    withTempPath { path =>
      import graft.meta.FileMetaStore
      val t = GraftTable.create(spark,
        Seq((1L, "a")).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 1)
      (1 to 20).foreach(i => t.upsert(Seq((1L, s"v$i")).toDF("id", "v")))
      t.toDF.count() // prime the cache

      val full0 = FileMetaStore.fullReads.get
      val tail0 = FileMetaStore.tailReads.get
      val stat0 = FileMetaStore.statOnlyHits.get
      (1 to 10).foreach(_ => t.toDF.count())
      assert(FileMetaStore.fullReads.get == full0,
        "an unchanged version log was re-parsed in full")
      assert(FileMetaStore.tailReads.get == tail0,
        "an unchanged version log paid a tail read")
      assert(FileMetaStore.statOnlyHits.get > stat0)

      // a new commit extends the cached state by parsing only the new bytes
      t.upsert(Seq((1L, "z")).toDF("id", "v"))
      t.toDF.count()
      assert(FileMetaStore.fullReads.get == full0,
        "a commit invalidated the whole snapshot cache")
      assert(FileMetaStore.tailReads.get > tail0)
    }
  }

  test("rewrite-mode upsert: coalesce semantics, inserts, single run, " +
    "partition pruning leaves sibling partitions byte-identical") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq(("p1", 1L, 1.0, "a"), ("p1", 2L, 2.0, "b"),
            ("p2", 3L, 3.0, "c"), ("p2", 4L, 4.0, "d"))
          .toDF("r", "id", "v", "s"), path,
        rangeColumns = Seq("r"), hashColumns = Seq("id"), bucketNum = 2)
      val filesP2 = t.liveFiles.filter(_.partitionDesc == "r=p2")
        .map(f => (f.file.path, f.file.size)).toSet

      // batch: update id=1 (null s -> existing value survives the
      // coalesce), insert id=9; cond prunes the rewrite to p1
      val batch = Seq(("p1", 1L, 100.0, null: String), ("p1", 9L, 9.0, "z"),
        ("p2", 3L, 300.0, "x")).toDF("r", "id", "v", "s")
      t.upsertRewrite(batch, Some(col("r") === "p1"))

      assertRows(t.toDF.orderBy("id"),
        Seq("[p1,1,100.0,a]", "[p1,2,2.0,b]", "[p2,3,3.0,c]",
          "[p2,4,4.0,d]", "[p1,9,9.0,z]"))
      // p2 untouched (batch row for p2 filtered out by the cond)
      assert(t.liveFiles.filter(_.partitionDesc == "r=p2")
        .map(f => (f.file.path, f.file.size)).toSet == filesP2)
      // p1 is single-run after the rewrite
      assert(t.liveFiles.filter(_.partitionDesc == "r=p1")
        .map(_.commitOrdinal).distinct.size == 1)

      // full-table rewrite mode (no cond) applies everywhere, still 1 run
      t.upsertRewrite(Seq(("p2", 4L, 44.0, "dd")).toDF("r", "id", "v", "s"))
      assertRows(t.toDF.orderBy("id"),
        Seq("[p1,1,100.0,a]", "[p1,2,2.0,b]", "[p2,3,3.0,c]",
          "[p2,4,44.0,dd]", "[p1,9,9.0,z]"))
      assert(t.liveFiles.groupBy(_.partitionDesc).values
        .forall(_.map(_.commitOrdinal).distinct.size == 1))
      // CDC guard
      intercept[IllegalArgumentException] {
        val c = GraftTable.create(spark,
          Seq((1L, "x", "insert")).toDF("id", "v", "op"), s"$path-cdc",
          hashColumns = Seq("id"), bucketNum = 2,
          properties = Map(graft.meta.TableInfo.CdcColumnProp -> "op"))
        c.upsertRewrite(Seq((1L, "y", "insert")).toDF("id", "v", "op"))
      }
    }
  }

  test("upsert after a targeted rewrite wins on merge; vacuum drops replaced files") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1 to 100).map(i => (i.toLong, i * 1.0)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 4)
      t.update(col("id") === 7L, Map("v" -> lit(777.0)))
      t.upsert(Seq((7L, 999.0)).toDF("id", "v"))
      assert(t.toDF.filter(col("id") === 7L).head.getDouble(1) == 999.0)
      assert(t.toDF.count() == 100)
      // the rewrite's del'd files are unreferenced at head -> vacuumable
      val deleted = t.vacuum(retainMs = 0L)
      assert(deleted > 0, "expected the replaced bucket files to be vacuumed")
      assert(t.toDF.count() == 100)
      assert(t.toDF.filter(col("id") === 7L).head.getDouble(1) == 999.0)
    }
  }

  test("partition-pruned read via partitionPred") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq(("p1", 1, 1), ("p2", 2, 2), ("p3", 3, 3)).toDF("r", "id", "v"), path,
        rangeColumns = Seq("r"), hashColumns = Seq("id"), bucketNum = 1)
      assertRows(t.toDF(_ == "r=p2"), Seq("[p2,2,2]"))
    }
  }

  test("a malformed boolean conf fails naming the key and the value, " +
    "before any file is written") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq(("a", 1L, 1.0), ("b", 2L, 2.0)).toDF("r", "id", "v"), path,
        rangeColumns = Seq("r"), hashColumns = Seq("id"), bucketNum = 2)
      val batch = Seq(("a", 1L, 10.0)).toDF("r", "id", "v")
      val ops: Seq[(String, () => Unit)] = Seq(
        "spark.graft.write.flatBucketWrite" -> (() => t.upsert(batch)),
        "spark.graft.write.skipAqeWhenInert" -> (() => t.upsert(batch)),
        "spark.graft.write.planCache" -> (() => t.upsert(batch)),
        "spark.graft.allowFullTableUpsert" -> (() => t.upsert(batch, "v > 0")),
        GraftTable.AutoMergeConf -> (() => t.upsert(batch.withColumn("extra", lit(1))))
      )
      def dataFiles(): Set[String] = {
        val root = new java.io.File(path)
        def walk(f: java.io.File): Seq[String] =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
          else if (f.getName.endsWith(".parquet")) Seq(f.getPath) else Nil
        walk(root).toSet
      }
      ops.foreach { case (key, op) =>
        val before = dataFiles()
        spark.conf.set(key, "yes")
        val e = try intercept[IllegalArgumentException](op())
          finally spark.conf.unset(key)
        assert(e.getMessage.contains(key) && e.getMessage.contains("'yes'"),
          s"$key: ${e.getMessage}")
        assert(dataFiles() == before, s"$key: files were written before the failure")
      }
      assertRows(t.toDF, Seq("[a,1,1.0]", "[b,2,2.0]"))
      spark.conf.set("spark.graft.write.planCache", " FALSE ")
      try t.upsert(batch) finally spark.conf.unset("spark.graft.write.planCache")
      assertRows(t.toDF, Seq("[a,1,10.0]", "[b,2,2.0]"))
    }
  }
}
