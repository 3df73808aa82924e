package graft

import org.apache.spark.sql.functions._

import graft.ops.ActionLog

/** Metadata-plane stress rehearsal (diagnostic main, not part of the
  * driver contract) — the data plane has StressDedup; this is the same
  * discipline for the TABLE FORMAT layer: thousands of real commits on
  * one action-log table, proving the properties the 100 TB story rests
  * on with measured figures (recorded in SURVEY §8h):
  *
  *  - `resolve` stays O(checkpoint tail): latency and actions-replayed
  *    FLAT across 2 000+ commits when checkpoints land every K commits —
  *    never O(total history);
  *  - `compactLog` bounds the tail between checkpoints;
  *  - `history` (DESCRIBE HISTORY) is one incremental pass — O(total
  *    actions), not O(versions × replay);
  *  - catalog `loadTable` + a SQL count stay flat as the log grows;
  *  - `vacuum` at depth drops thousands of records in one bounded pass.
  *
  * Run: `sbt 'runMain graft.StressMeta'`; SPARK_GRAFT_STRESS_COMMITS
  * overrides the commit count (default 2000).
  */
object StressMeta {

  private def timed[A](label: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"[stress-meta] $label%-52s ${dt}%8.3f s")
    (a, dt)
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_STRESS_COMMITS", "2000").toInt
    val ckptEvery = 250
    val spark = GraftSession.start()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", 4L) // 1-row commits
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("stress-meta").toString
    val table = s"$root/t"
    println(s"[stress-meta] $n commits, checkpoint every $ckptEvery, at $table")

    // ---- commit storm: 1-row appends with write-time stats ----
    val milestones = Seq(n / 4, n / 2, n).filter(_ > 0).distinct
    val (_, ingestS) = timed(s"$n appends (+${n / ckptEvery} 4-part checkpoints)") {
      (1 to n).foreach { i =>
        ActionLog.append(Seq((i.toLong, i.toLong * 2)).toDF("k", "v")
          .coalesce(1), table, statsCol = Some("k"))
        if (i % ckptEvery == 0) { ActionLog.checkpoint(spark, table, parts = 4); () }
        if (milestones.contains(i)) {
          val ((files, replayed, ckpt), dt) =
            timed(f"resolve at $i%5d commits") {
              ActionLog.resolve(spark, table, i.toLong)
            }
          println(f"[stress-meta]   -> files=${files.size}%5d replayed=$replayed%4d ckptBase=$ckpt dt=$dt%.3f")
          require(replayed <= ckptEvery,
            s"resolve must replay only the post-checkpoint tail, got $replayed")
        }
      }
    }
    println(f"[stress-meta] mean commit cost ${ingestS / n * 1000}%.1f ms")

    // ---- the tail between checkpoints folds to O(1) with compactLog ----
    val lastCkpt = (n / ckptEvery) * ckptEvery
    if (lastCkpt < n) {
      timed(s"compactLog(${lastCkpt + 1}, $n)") {
        ActionLog.compactLog(spark, table, lastCkpt + 1L, n.toLong)
      }
    }
    val ((_, replayedNet, _), resolveNetS) = timed("resolve after compaction") {
      ActionLog.resolve(spark, table, n.toLong)
    }
    println(s"[stress-meta]   -> replayed=$replayedNet (net tail)")

    // ---- DESCRIBE HISTORY: one pass over the whole log ----
    val (h, histS) = timed(s"history over $n versions") {
      ActionLog.history(spark, table)
    }
    require(h.size == n && h.last._5.contains(n.toLong),
      s"history must render every version with exact cumulative rows, " +
        s"got ${h.size} rows, cum ${h.last._5}")

    // ---- catalog latency: loadTable + SQL count, flat at depth ----
    spark.conf.set("spark.sql.catalog.stressmeta",
      classOf[graft.source.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.stressmeta.root", root)
    val (_, coldS) = timed("catalog SELECT count(*) (cold)") {
      spark.sql("SELECT count(*) FROM stressmeta.t").head.getLong(0)
    }
    val (cnt, warmS) = timed("catalog SELECT count(*) (warm)") {
      spark.sql("SELECT count(*) FROM stressmeta.t").head.getLong(0)
    }
    require(cnt == n.toLong, s"catalog count must see all $n commits, got $cnt")

    // ---- log-carried pruning at depth: point band over 2 000 files ----
    val (prune, pruneS) = timed("readWhere band [10, 19] over the log") {
      val (df, kept, total) = ActionLog.readWhere(spark, table, "k", 10L, 19L)
      (df.count(), kept, total)
    }
    println(s"[stress-meta]   -> rows=${prune._1} kept=${prune._2}/${prune._3}")
    require(prune._1 == 10L && prune._2 <= 12,
      s"log stats must prune ~${prune._3 - 10} of ${prune._3} files, " +
        s"kept ${prune._2}")

    // ---- vacuum at depth: drop 90% of the records in one bounded pass
    // (append-only history: every file is still live, so records drop
    // but no file can die yet)
    val keep = math.max(1, n / 10)
    val ((dropped, deleted), vacS) = timed(s"vacuum keep=$keep (grace 0)") {
      ActionLog.vacuum(spark, table, keepVersions = keep, graceMs = 0L)
    }
    println(s"[stress-meta]   -> droppedRecords=$dropped filesDeleted=$deleted")
    require(deleted == 0, "append-only history must lose no live file")
    // ---- OPTIMIZE the n tiny files into 8, then retire the originals:
    // the small-files lifecycle a drip-fed 100 TB table lives by
    val live = ActionLog.resolve(spark, table,
      ActionLog.versions(spark, table).last)._1
    val (_, optS) = timed(s"compactFiles ${live.size} -> 8") {
      ActionLog.compactFiles(spark, table, live, numFiles = 8,
        statsCol = Some("k"))
    }
    val ((dropped2, deleted2), vac2S) = timed("vacuum keep=1 (grace 0)") {
      ActionLog.vacuum(spark, table, keepVersions = 1, graceMs = 0L)
    }
    println(s"[stress-meta]   -> droppedRecords=$dropped2 filesDeleted=$deleted2")
    require(deleted2 == live.size,
      s"post-compaction vacuum must retire every folded file, " +
        s"got $deleted2 of ${live.size}")
    val ((_, replayedPost, _), resolvePostS) = timed("resolve after vacuum") {
      ActionLog.resolve(spark, table,
        ActionLog.versions(spark, table).last)
    }
    require(ActionLog.read(spark, table).count() == n.toLong,
      "maintenance must never change live content")

    println(f"""[stress-meta] SUMMARY commits=$n ingest=${ingestS}%.1fs """ +
      f"""resolveNet=${resolveNetS}%.3fs/$replayedNet hist=${histS}%.1fs """ +
      f"""cold=${coldS}%.2fs warm=${warmS}%.2fs prune=${pruneS}%.2fs """ +
      f"""vacuum=${vacS}%.1fs optimize=${optS}%.1fs vacuum2=${vac2S}%.1fs """ +
      f"""resolvePost=${resolvePostS}%.3fs/$replayedPost""")

    // ---- WIDE-TABLE rehearsal (SPARK_GRAFT_STRESS_FILES): a table of
    // >=100 k live files, the shape where the DRIVER-side metadata plane
    // dies (Delta's raison d'être for parquet checkpoints). Everything
    // asserted here runs on the DISTRIBUTED plane: the checkpoint is a
    // Spark job, resolution is a DataFrame, and readWhere's driver
    // traffic is O(kept names) + one count — never O(files) objects.
    sys.env.get("SPARK_GRAFT_STRESS_FILES").map(_.toInt).foreach { target =>
      import org.apache.spark.sql.functions.col
      val wide = s"$root/wide"
      val perCommit = 1000
      val commits = math.max(1, target / perCommit)
      // parquet-checkpoint every 10 commits (the auto-checkpoint default)
      spark.conf.set(ActionLog.AutoCheckpointConf, "10")
      val (_, wIngestS) = timed(
        s"$commits appends x $perCommit single-row-range files") {
        (1 to commits).foreach { c =>
          val lo = (c - 1).toLong * perCommit
          ActionLog.appendOcc(
            spark.range(lo, lo + perCommit).toDF("k")
              .repartitionByRange(perCommit, col("k")),
            wide, statsCol = Some("k"))
          if (c % 20 == 0) println(s"[stress-meta]   ... commit $c/$commits")
        }
      }
      val nFiles = target / perCommit * perCommit
      val (resolved, wResolveS) = timed(s"resolveDf over $nFiles files") {
        ActionLog.resolveDf(spark, wide).count()
      }
      require(resolved >= nFiles.toLong,
        s"distributed resolution must see every live file, got $resolved")
      val ((rows, kept, total), wPruneS) =
        timed("readWhere band of 10 keys (O(kept) driver traffic)") {
          val (df, k, t) = ActionLog.readWhere(spark, wide, "k", 500L, 509L)
          (df.count(), k, t)
        }
      println(s"[stress-meta]   -> rows=$rows kept=$kept/$total")
      require(rows == 10L && kept <= 12,
        s"log stats must prune to the band's files: kept=$kept of $total")
      val (_, wCkptS) = timed(s"checkpointParquet at head") {
        ActionLog.checkpointParquet(spark, wide)
      }
      println(f"""[stress-meta] WIDE SUMMARY files=$nFiles """ +
        f"""ingest=${wIngestS}%.1fs resolveDf=${wResolveS}%.2fs """ +
        f"""readWhere=${wPruneS}%.2fs (kept=$kept/$total) """ +
        f"""checkpointParquet=${wCkptS}%.2fs""")
    }
    spark.stop()
  }
}
