package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.io.LocalFs
import graft.pipeline.EodPipeline
import graft.plans.GraftRules

/** Committed after the body [[LocalFsSpec]] watches: once the stream has
  * delivered it, every event committed before it has been delivered too.
  */
final class LocalFsSpecSentinel extends jdk.jfr.Event

/** The session's `file:` filesystem: the checksummed local filesystem with
  * permissions set through `java.nio`, so a pipeline day starts no process,
  * with the bits, checksums and rename rule of the filesystem it replaces.
  */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fs: FileSystem = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  /** The commands of the processes started while `body` runs, counted by
    * an in-process JFR stream.
    */
  private def processStarts(body: => Unit): Seq[String] = {
    // Spark deletes an unreachable session's artifact dir with an `rm -rf`
    // process once the GC finds the session (each streaming query clones
    // one): collect the sessions earlier code dropped before recording
    System.gc()
    Thread.sleep(500)
    val starts = new ConcurrentLinkedQueue[String]
    val delivered = new CountDownLatch(1)
    val rs = new jdk.jfr.consumer.RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.enable(classOf[LocalFsSpecSentinel])
      rs.onEvent("jdk.ProcessStart", e => { starts.add(e.getString("command")); () })
      rs.onEvent(classOf[LocalFsSpecSentinel].getName, _ => delivered.countDown())
      rs.startAsync()
      body
      new LocalFsSpecSentinel().commit()
      assert(delivered.await(60, TimeUnit.SECONDS), "the stream delivered the sentinel")
      starts.asScala.toSeq
    } finally rs.close()
  }

  test("one runDate starts no process") {
    val wh = TestSpark.tmpDir("lfswh")
    val bronze = TestSpark.tmpDir("lfsbronze")
    val pipe = new EodPipeline(wh, minTickers = 1)
    def day(date: String, syms: Seq[String]): String = {
      val f = Paths.get(bronze, s"eod_prices_$date.csv")
      Files.write(f, ("trade_date,symbol,open,high,low,close,volume" +:
        syms.map(s => s"$date,$s,1,1,1,1,100")).asJava, UTF_8)
      f.toString
    }
    pipe.runDate(spark, day("2026-03-02", Seq("AAPL", "MSFT")), "2026-03-02") // warm-up
    var parity = false
    val starts = processStarts {
      parity = pipe.runDate(spark, day("2026-03-03", Seq("AAPL", "MSFT", "NVDA")), "2026-03-03").rowParity
    }
    assert(parity)
    assert(starts === Nil, s"${starts.size} process starts, first: ${starts.take(3)}")
  }

  test("a one-batch parquet stream starts no process, its checkpoint included") {
    val dir = TestSpark.tmpDir("lfsstream")
    spark.range(10).write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    def stream(name: String): Unit =
      spark.readStream.schema(schema).parquet(s"$dir/in").writeStream.format("parquet")
        .option("checkpointLocation", s"$dir/$name-ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(s"$dir/$name").awaitTermination()
    stream("warm-up")
    // a session's artifact-dir cleanup runs whenever the GC finds the
    // session, also inside this window; it is no checkpoint file operation
    val starts = processStarts(stream("out")).filterNot(_.matches("rm -rf \\S*/artifacts-[^/ ]+/[^/ ]+"))
    assert(spark.read.parquet(s"$dir/out").count() === 10)
    assert(starts === Nil, s"${starts.size} process starts, first: ${starts.take(3)}")
  }

  test("files are 0644 and dirs 0755 under the default umask; other bits are applied") {
    val dir = TestSpark.tmpDir("lfsperm")
    val d = new Path(dir, "a/b")
    val f = new Path(d, "part-0")
    assert(fs.mkdirs(d))
    fs.create(f, true).close()
    assert(mode(s"$dir/a") === "rwxr-xr-x")
    assert(mode(d.toString) === "rwxr-xr-x")
    assert(mode(f.toString) === "rw-r--r--")
    fs.setPermission(f, new FsPermission("640"))
    assert(mode(f.toString) === "rw-r-----")
    // the sticky bit has no POSIX permission-set form: Hadoop's own path sets it
    fs.setPermission(d, new FsPermission("1755"))
    assert((Files.getAttribute(Paths.get(d.toString), "unix:mode").asInstanceOf[Int] & 0x3ff) === 0x3ed)
  }

  test("checksum sidecars are written and verified") {
    val dir = TestSpark.tmpDir("lfscrc")
    val f = new Path(dir, "data.bin")
    val out = fs.create(f, true)
    try out.write("checksummed".getBytes(UTF_8)) finally out.close()
    assert(Files.exists(Paths.get(dir, ".data.bin.crc")))
    val raw = Paths.get(dir, "data.bin")
    val bytes = Files.readAllBytes(raw)
    bytes(3) = (bytes(3) ^ 1).toByte
    Files.write(raw, bytes)
    intercept[ChecksumException] {
      val in = fs.open(f)
      try in.readAllBytes() finally in.close()
    }
  }

  test("rename onto an existing file returns false and leaves both files") {
    val dir = TestSpark.tmpDir("lfsrename")
    val (a, b) = (new Path(dir, "a"), new Path(dir, "b"))
    Seq(a -> "A", b -> "B").foreach { case (p, text) => graft.ops.MetaFile.write(fs, p, text) }
    assert(!fs.rename(a, b))
    assert(graft.ops.MetaFile.read(fs, a).contains("A"))
    assert(graft.ops.MetaFile.read(fs, b).contains("B"))
    assert(fs.rename(a, new Path(dir, "c")), "a rename onto a free name still moves the file")
  }

  test("register twice keeps the same cached instance, whatever the caller's configuration") {
    val before = fs
    assert(before.isInstanceOf[LocalFs])
    GraftRules.register(spark)
    GraftRules.register(spark)
    assert(fs eq before)
    assert(new Path("file:///").getFileSystem(new Configuration()) eq before)
  }
}
