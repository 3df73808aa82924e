package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Branching

/** Branch-DAG edges: two-parent merge commits feed later LCAs, agreeing
  * effects (including delete-delete) merge cleanly, delete-vs-update is a
  * conflict, and re-merging after a merge fast-forwards.
  */
class BranchingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def base = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
    .toDF("k", "v")

  test("merge commit has two parents and anchors the next LCA") {
    val dir = TestSpark.tmpDir("br1")
    val c1 = Branching.init(base, dir)
    Branching.branch(spark, dir, "main", "dev")
    Branching.commitOn(base.withColumn("v",
      when(col("k") === 1, 11L).otherwise(col("v"))), dir, "dev")
    Branching.commitOn(base.withColumn("v",
      when(col("k") === 2, 22L).otherwise(col("v"))), dir, "main")
    val Branching.Merged(m) = Branching.merge(spark, dir, "dev", "main", Seq("k")): @unchecked
    assert(Branching.parents(spark, dir, m).toSet.size == 2)
    // dev still points pre-merge; a new fork from main sees the merge as LCA
    Branching.branch(spark, dir, "main", "next")
    assert(Branching.lca(spark, dir,
      Branching.head(spark, dir, "next"), m) == m)
    assert(Branching.isAncestor(spark, dir, c1, m))
    // content: both updates landed
    val got = Branching.readBranch(spark, dir, "main")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 11L), (2L, 22L), (3L, 30L), (4L, 40L)))
  }

  test("identical effects on both sides — including delete-delete — commute") {
    val dir = TestSpark.tmpDir("br2")
    Branching.init(base, dir)
    Branching.branch(spark, dir, "main", "a")
    // both delete k=4 and both set k=3 to the SAME value
    val same = base.filter(col("k") =!= 4)
      .withColumn("v", when(col("k") === 3, 33L).otherwise(col("v")))
    Branching.commitOn(same, dir, "a")
    Branching.commitOn(same.withColumn("v",
      when(col("k") === 1, 111L).otherwise(col("v"))), dir, "main")
    val out = Branching.merge(spark, dir, "a", "main", Seq("k"))
    assert(out.isInstanceOf[Branching.Merged])
    val got = Branching.readBranch(spark, dir, "main")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 111L), (2L, 20L), (3L, 33L)))
  }

  test("delete-vs-update on one key is a conflict") {
    val dir = TestSpark.tmpDir("br3")
    Branching.init(base, dir)
    Branching.branch(spark, dir, "main", "a")
    Branching.commitOn(base.filter(col("k") =!= 1), dir, "a") // delete k=1
    Branching.commitOn(base.withColumn("v",
      when(col("k") === 1, 99L).otherwise(col("v"))), dir, "main") // update k=1
    val ex = intercept[IllegalArgumentException] {
      Branching.merge(spark, dir, "a", "main", Seq("k"))
    }
    assert(ex.getMessage.contains("differently"))
  }

  test("re-merging a merged branch fast-forwards the stale side") {
    val dir = TestSpark.tmpDir("br4")
    Branching.init(base, dir)
    Branching.branch(spark, dir, "main", "dev")
    Branching.commitOn(base.withColumn("v", col("v") + 1), dir, "dev")
    Branching.merge(spark, dir, "dev", "main", Seq("k")) match {
      case Branching.FastForward(h) =>
        assert(h == Branching.head(spark, dir, "dev"))
      case other => fail(s"expected fast-forward, got $other")
    }
    // now dev is behind main's (== its own) head: merging back is a no-op FF
    val again = Branching.merge(spark, dir, "main", "dev", Seq("k"))
    assert(again.isInstanceOf[Branching.FastForward])
  }

  test("an interrupted head move resolves to the old or the new commit") {
    import org.apache.hadoop.fs.Path
    import graft.ops.MetaFile
    // the two states a crash inside a head's replace can leave: the tmp
    // written with the head intact, then the head deleted with the tmp
    // complete beside it
    val dir = TestSpark.tmpDir("brcrash")
    val c1 = Branching.init(base, dir)
    Branching.branch(spark, dir, "main", "dev")
    val c2 = Branching.commitOn(base.filter(col("k") =!= 4L), dir, "dev")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mainHead = new Path(s"$dir/_heads/main")
    // main fast-forwarding to c2, crashed after writing its tmp
    MetaFile.write(fs, new Path(s"$dir/_heads/.main.tmp-${java.util.UUID.randomUUID()}"), c2.toString)
    assert(Branching.head(spark, dir, "main") == c1, "head intact: the old commit")
    // … and crashed after deleting the head
    assert(fs.delete(mainHead, false))
    assert(Branching.head(spark, dir, "main") == c2, "head deleted: the complete replacement")
    assert(Branching.readBranch(spark, dir, "main").count() == 3L)
    assert(Branching.branches(spark, dir) == Seq("dev", "main"))
    // the branch keeps working: the next move lands a real head file
    val c3 = Branching.commitOn(base, dir, "main")
    assert(MetaFile.read(fs, mainHead).contains(c3.toString))
    assert(Branching.parents(spark, dir, c3) == Seq(c2))
  }
}
