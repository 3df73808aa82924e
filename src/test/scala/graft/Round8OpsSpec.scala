package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{ActionLog, TableChecksum}

/** Round-8 regression pins — one per round-7 ADVICE defect:
  * checksum self-cancellation, the vacuum/staging race, MV rewrite
  * path-suffix capture, and non-integral log stats.
  */
class Round8OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("checksum digest must not self-cancel on duplicate rows") {
    // {r1,r1,r2} and {r2,r2,r2}: same row count, and under an XOR combine
    // the duplicate pair cancels — both bags would digest identically.
    val a = Seq(("r1", 1L), ("r1", 1L), ("r2", 2L)).toDF("k", "v")
    val b = Seq(("r2", 2L), ("r2", 2L), ("r2", 2L)).toDF("k", "v")
    val (na, xa) = TableChecksum.digest(a)
    val (nb, xb) = TableChecksum.digest(b)
    assert(na == nb, "the collision class needs equal row counts")
    assert(xa != xb, "diverged bags with even-multiplicity overlap " +
      "must digest differently")
    // multiplicity itself is bound: one copy vs three copies of the same row
    val one = Seq(("r", 9L)).toDF("k", "v")
    val three = Seq(("r", 9L), ("r", 9L), ("r", 9L)).toDF("k", "v")
    assert(TableChecksum.digest(one)._2 != TableChecksum.digest(three)._2)
  }

  test("vacuum must not delete a concurrent writer's staged files") {
    val dir = TestSpark.tmpDir("vrace") + "/t"
    ActionLog.append(Seq(1L, 2L).toDF("k").coalesce(1), dir)
    ActionLog.append(Seq(3L).toDF("k").coalesce(1), dir)
    ActionLog.rewrite(ActionLog.read(spark, dir), dir, numFiles = 1)
    // the race window: files are staged into data/, no log slot claimed
    // yet — a vacuum fired here must leave them alone (default grace)
    val v = ActionLog.appendOcc(Seq(4L).toDF("k").coalesce(1), dir,
      hook = () => { ActionLog.vacuum(spark, dir, keepVersions = 1); () })
    assert(v == 4L)
    val got = ActionLog.read(spark, dir).as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L, 3L, 4L),
      "the commit whose staged files a vacuum raced must still land whole")
  }

  test("vacuum graceMs=0 is the explicit immediate-deletion opt-out") {
    val dir = TestSpark.tmpDir("vgrace") + "/t"
    ActionLog.append(Seq(1L).toDF("k").coalesce(1), dir)
    ActionLog.rewrite(Seq(2L).toDF("k").coalesce(1), dir, numFiles = 1)
    // default grace: the just-removed file is young, so it survives
    val (_, keptDeleted) = ActionLog.vacuum(spark, dir, keepVersions = 1)
    assert(keptDeleted == 0, "a young unreferenced file must outlive " +
      "a default-grace vacuum")
    val (_, deleted) =
      ActionLog.vacuum(spark, dir, keepVersions = 1, graceMs = 0L)
    assert(deleted == 1, "RETAIN 0 HOURS deletes it immediately")
  }

  test("MV rewrite must not capture a path-suffix table") {
    import graft.plans.MvRewrite
    val root = TestSpark.tmpDir("mvsfx")
    val base = s"$root/data/events"
    val decoy = s"$root/backup/data/events" // path-suffix of base
    Seq(("a", 1L), ("a", 1L), ("b", 1L)).toDF("g", "x")
      .write.parquet(base)
    Seq(("a", 100L)).toDF("g", "x").write.parquet(decoy)
    spark.read.parquet(base).groupBy("g").agg(sum("x").as("sum_x"))
      .write.parquet(s"$root/mv")
    MvRewrite.register(base, s"$root/mv", Seq("g"),
      Seq(MvRewrite.SumOf("x", "sum_x")))
    try {
      val overDecoy = spark.read.parquet(decoy)
        .groupBy("g").agg(sum("x").as("sum_x"))
        .as[(String, Long)].collect().toMap
      assert(overDecoy == Map("a" -> 100L),
        "a different table whose location merely ends with the registered " +
          "base path must NOT be answered from the MV")
      // and the genuine base still rewrites to the same answers
      val overBase = spark.read.parquet(base)
        .groupBy("g").agg(sum("x").as("sum_x"))
        .as[(String, Long)].collect().toMap
      assert(overBase == Map("a" -> 2L, "b" -> 1L))
    } finally MvRewrite.clear()
  }

  test("commitStagedDir: a commit since the scanned base is loudly stale") {
    import org.apache.hadoop.fs.Path
    import graft.ops.{Occ, VersionedTable}
    val dir = TestSpark.tmpDir("csd") + "/t"
    Occ.commit(spark, dir, Set("init")) { _ => Seq(1L, 2L).toDF("k") } // v1
    // a replacement staged against v1…
    val stageName = "_stage-" + java.util.UUID.randomUUID().toString
    Seq(9L).toDF("k").write.parquet(s"$dir/$stageName")
    // …but a competitor lands first
    Occ.commit(spark, dir, Set("other")) { base =>
      base.get.unionByName(Seq(3L).toDF("k")) } // v2
    val ex = intercept[Occ.CommitConflictException] {
      Occ.commitStagedDir(spark, dir, stageName, base = 1L, Set("*"))
    }
    assert(ex.getMessage.contains("no longer current"))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(dir, stageName)),
      "the stale stage must be cleaned up, not leaked")
    assert(VersionedTable.read(spark, dir).count() == 3,
      "the winner's content must be untouched")
  }

  test("an all-rows expression DELETE leaves a readable empty version") {
    import graft.ops.{VersionedTable => VT}
    val root = TestSpark.tmpDir("edel")
    VT.write(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), s"$root/t")
    val cat = "r8del_" + java.util.UUID.randomUUID().toString
      .replace("-", "").take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.source.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // k % 1 = 0 is an EXPRESSION (row-level rewrite path), matches all
    spark.sql(s"DELETE FROM $cat.t WHERE k % 1 = 0")
    assert(VT.currentVersion(spark, s"$root/t").contains(2L))
    assert(spark.sql(s"SELECT * FROM $cat.t").count() == 0,
      "the empty replacement must stay readable (schema-only file)")
    assert(spark.sql(s"SELECT * FROM $cat.t").schema.fieldNames.toSeq ==
      Seq("k", "s"), "the empty version must keep the schema")
  }

  test("rewriteStaged: a moved head is loudly stale, stage cleaned up") {
    import org.apache.hadoop.fs.Path
    val dir = TestSpark.tmpDir("rwst") + "/t"
    ActionLog.append(Seq(1L, 2L).toDF("k").coalesce(1), dir)
    ActionLog.append(Seq(3L).toDF("k").coalesce(1), dir) // base = 2
    val stage = s"$dir/_stage-test"
    Seq(9L).toDF("k").coalesce(1).write.parquet(stage)
    ActionLog.append(Seq(4L).toDF("k").coalesce(1), dir) // head moves to 3
    val ex = intercept[RuntimeException] {
      ActionLog.rewriteStaged(spark, dir, stage, base = 2L)
    }
    assert(ex.getMessage.contains("no longer current"))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(stage)), "the stale stage must be deleted")
    assert(ActionLog.read(spark, dir).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L), "the live content must be untouched")
  }

  test("log stats on a non-integral column fail loudly") {
    val dir = TestSpark.tmpDir("fstat") + "/t"
    val ex = intercept[RuntimeException] {
      ActionLog.append(Seq((1L, 5.5d)).toDF("k", "price").coalesce(1),
        dir, statsCol = Some("price"))
    }
    assert(ex.getMessage.contains("must be integral"))
  }
}
