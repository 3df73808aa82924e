package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{ActionLog, MetaFile, SnapshotCatalog, VersionedTable}

/** The commit-point rule: `claim` has one winner per slot and never shows a
  * torn body, a crash at either state inside `replace` leaves every pointer
  * reader on the old or the new content, and no other code in `src/main`
  * opens a Hadoop file for writing.
  */
class MetaFileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fsOf(dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("claim: one winner per slot, content never torn") {
    val dir = TestSpark.tmpDir("aput")
    val fs = fsOf(dir)
    // many threads race many slots; every slot gets exactly one winner
    // and every read-back body is a COMPLETE payload (the torn-commit
    // class: a claim visible before its content)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until 8).map { t =>
      new Thread(() => {
        (0 until 20).foreach { slot =>
          val body = s"writer-$t-slot-$slot-" + ("x" * 64)
          if (MetaFile.claim(fs, new Path(dir, s"slot-$slot"),
            body.getBytes("UTF-8"))) { wins.incrementAndGet(); () }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(wins.get() == 20, s"exactly one winner per slot, got ${wins.get()}")
    (0 until 20).foreach { slot =>
      val text = MetaFile.read(fs, new Path(dir, s"slot-$slot")).get
      assert(text.matches("writer-\\d-slot-" + slot + "-x{64}"),
        s"slot $slot body must be complete, got '${text.take(40)}…'")
    }
    // no temp debris left behind
    assert(!fs.listStatus(new Path(dir))
      .exists(_.getPath.getName.startsWith(".claim-")))
  }

  test("a claimed record is checksummed: one flipped byte fails its read") {
    val dir = TestSpark.tmpDir("mfcrc")
    ActionLog.append(Seq(1L, 2L).toDF("id"), dir)
    val rec = java.nio.file.Paths.get(dir, "_log", "00000001.json")
    assert(java.nio.file.Files.exists(rec.resolveSibling(".00000001.json.crc")))
    val bytes = java.nio.file.Files.readAllBytes(rec)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 1).toByte
    java.nio.file.Files.write(rec, bytes)
    val e = intercept[Exception](ActionLog.read(spark, dir).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]), e.toString)
  }

  test("read is None when absent; replace swaps the content and leaves no tmp") {
    val dir = TestSpark.tmpDir("mfreplace")
    val fs = fsOf(dir)
    val p = new Path(dir, "_ptr")
    assert(MetaFile.read(fs, p).isEmpty)
    MetaFile.replace(fs, p, "1")
    MetaFile.replace(fs, p, "22")
    assert(MetaFile.read(fs, p).contains("22"))
    assert(fs.listStatus(new Path(dir)).map(_.getPath.getName).toSeq == Seq("_ptr"))
  }

  /** The two states a crash inside `replace(fs, p, next)` can leave:
    * its tmp sibling written with `p` intact, or `p` deleted with the
    * complete tmp beside it.
    */
  private val crashStates: Seq[(String, (FileSystem, Path, String) => Unit)] = {
    def tmp(p: Path) = new Path(p.getParent, s".${p.getName}.tmp-${java.util.UUID.randomUUID()}")
    Seq(
      "tmp written, pointer intact" -> { (fs, p, next) => MetaFile.write(fs, tmp(p), next) },
      "pointer deleted, tmp complete" -> { (fs, p, next) =>
        MetaFile.write(fs, tmp(p), next)
        assert(fs.delete(p, false)); ()
      })
  }

  crashStates.zipWithIndex.foreach { case ((state, crash), i) =>
    test(s"replace crash ($state): a table reads the old or the new version, and the next write heals") {
      val dir = TestSpark.tmpDir(s"mfvt$i") + "/t"
      VersionedTable.write(Seq(1L).toDF("k"), dir)
      val staged = VersionedTable.stage(Seq(2L).toDF("k"), dir)
      crash(fsOf(dir), new Path(dir, "_ptr"), f"$staged%08d")
      val v = VersionedTable.currentVersion(spark, dir).get
      assert(Set(1L, staged).contains(v), s"resolved $v")
      assert(VersionedTable.read(spark, dir).as[Long].collect().toSeq == Seq(v))
      val next = VersionedTable.write(Seq(3L).toDF("k"), dir)
      assert(VersionedTable.currentVersion(spark, dir).contains(next))
      assert(VersionedTable.read(spark, dir).as[Long].collect().toSeq == Seq(3L))
    }

    test(s"replace crash ($state): a catalog reads the old or the new manifest") {
      val dir = TestSpark.tmpDir(s"mfcat$i")
      SnapshotCatalog.commit(spark, dir, Map("a" -> 1L))
      val fs = fsOf(dir)
      // a second commit whose pointer replace crashed: its manifest is claimed
      assert(MetaFile.claim(fs, new Path(dir, "_m-00000002"), "a=2".getBytes("UTF-8")))
      crash(fs, new Path(dir, "_ptr"), "2")
      val (n, pins) = SnapshotCatalog.current(spark, dir).get
      assert(pins == Map("a" -> n), s"manifest $n pins $pins")
      SnapshotCatalog.finalizePending(spark, dir) // roll the pointer forward
      assert(SnapshotCatalog.current(spark, dir).map(_._2).contains(Map("a" -> 2L)))
    }
  }

  test("MetaFile is the only Hadoop create site in src/main") {
    import java.nio.file.Files
    // `<receiver>.create(`: the receivers that are not Hadoop filesystems
    // are Spark's codegen factories
    val Create = """(\w+|\))\s*\.create\(""".r
    val codegen = Set("UnsafeProjection", "RowOrdering")
    // the catalog queries that plant faults on purpose: a routing pointer,
    // a rotten checksum and an orphan checkpoint fragment
    val planted = Set("OptimizerQueries.scala:2072", "OptimizerQueries.scala:2184",
      "OptimizerQueries.scala:2800")
    val sites = TestSpark.sourceFiles(Seq("src/main/scala", "src/main/java"), Seq(".scala", ".java"))
      .filterNot(_.getFileName.toString == "MetaFile.scala")
      .flatMap { p =>
        val text = Files.readString(p)
        Create.findAllMatchIn(text).filterNot(m => codegen(m.group(1))).map { m =>
          s"${p.getFileName}:${text.substring(0, m.start).count(_ == '\n') + 1}"
        }
      }
    assert(sites.filterNot(planted) === Nil)
  }
}
