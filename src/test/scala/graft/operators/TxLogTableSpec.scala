package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class TxLogTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp = Files.createTempDirectory("graft-txlog").toString

  test("append commits are atomic versions; snapshot read sees only committed data") {
    val path = tmp
    val v0 = TxLogTable.append(spark, Seq((1L, "a")).toDF("id", "v"), path)
    val v1 = TxLogTable.append(spark, Seq((2L, "b")).toDF("id", "v"), path)
    assert(v0 == 0 && v1 == 1)
    assert(TxLogTable.read(spark, path).count() == 2)
    // un-logged stray files are invisible to readers
    val stray = s"$path/data-stray"
    Seq((99L, "z")).toDF("id", "v").write.parquet(stray)
    assert(TxLogTable.read(spark, path).count() == 2)
  }

  test("time travel: readVersion returns historical snapshots") {
    val path = tmp
    TxLogTable.append(spark, Seq((1L, "a")).toDF("id", "v"), path)
    TxLogTable.append(spark, Seq((2L, "b")).toDF("id", "v"), path)
    TxLogTable.append(spark, Seq((3L, "c")).toDF("id", "v"), path)
    assert(TxLogTable.readVersion(spark, path, 0).count() == 1)
    assert(TxLogTable.readVersion(spark, path, 1).count() == 2)
    assert(TxLogTable.currentVersion(path) == 2)
  }

  test("schema evolution across commits merges on read") {
    val path = tmp
    TxLogTable.append(spark, Seq((1L, "a")).toDF("id", "v"), path)
    TxLogTable.append(spark, Seq((2L, "b", 7.5)).toDF("id", "v", "extra"), path)
    val df = TxLogTable.read(spark, path)
    assert(df.columns.toSet == Set("id", "v", "extra"))
    assert(df.filter(col("id") === 1).select("extra").head().isNullAt(0))
  }

  test("log checkpointing: rolled-up listing serves reads; time travel still exact") {
    val path = tmp
    (0 to 12).foreach { i =>
      TxLogTable.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "v"), path)
    }
    // interval 10 → a checkpoint at version 10 exists
    assert(Files.exists(java.nio.file.Paths.get(path, "_log", "10.checkpoint.json")))
    // snapshot read = checkpoint + incremental tail
    assert(TxLogTable.read(spark, path).count() == 13)
    assert(TxLogTable.read(spark, path).select(max("id")).head().getLong(0) == 12L)
    // time travel before, at, and after the checkpoint boundary
    assert(TxLogTable.readVersion(spark, path, 5).count() == 6)
    assert(TxLogTable.readVersion(spark, path, 10).count() == 11)
    assert(TxLogTable.readVersion(spark, path, 11).count() == 12)
  }

  test("vacuum removes unpublished staging dirs, never committed data") {
    val path = tmp
    TxLogTable.append(spark, Seq((1L, "a")).toDF("id", "v"), path)
    // simulate a crash between parquet write and log publish
    val stray = s"$path/data-deadbeef"
    Seq((99L, "junk")).toDF("id", "v").write.parquet(stray)
    // inside the grace window: kept (could be an in-flight commit)
    assert(TxLogTable.vacuum(path).isEmpty)
    assert(Files.exists(java.nio.file.Paths.get(stray)))
    // past the grace window: removed; committed data intact
    val removed = TxLogTable.vacuum(path, graceMs = 0L)
    assert(removed == Seq("data-deadbeef"))
    assert(!Files.exists(java.nio.file.Paths.get(stray)))
    assert(TxLogTable.read(spark, path).count() == 1)
  }

  test("compaction: rebase commit replaces listing; time travel and appends survive") {
    val path = tmp
    (0 to 4).foreach { i =>
      TxLogTable.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "v"), path)
    }
    val dirsBefore = new java.io.File(path).listFiles().count(_.getName.startsWith("data-"))
    assert(dirsBefore == 5)

    val cv = TxLogTable.compact(spark, path)
    assert(cv == 5)
    // same data, one compacted dir referenced at the head
    assert(TxLogTable.read(spark, path).count() == 5)
    assert(TxLogTable.read(spark, path).select(max("id")).head().getLong(0) == 4L)
    // time travel to a pre-compaction version still exact
    assert(TxLogTable.readVersion(spark, path, 2).count() == 3)
    // appends continue on top of the rebase
    TxLogTable.append(spark, Seq((99L, "z")).toDF("id", "v"), path)
    assert(TxLogTable.read(spark, path).count() == 6)

    // dropping history before the compaction removes the 5 small dirs
    // but keeps the compacted dir + the new append
    val removed = TxLogTable.vacuumCompacted(path, sinceVersion = cv)
    assert(removed.size == 5)
    assert(TxLogTable.read(spark, path).count() == 6)
    assert(TxLogTable.readVersion(spark, path, cv).count() == 5)
  }

  test("z-order compaction: same rows, tighter per-file boxes, history intact") {
    val path = tmp
    // append in x-striped batches — the WORST layout for y predicates:
    // every appended file spans the full y range
    (0 until 4).foreach { stripe =>
      val rows = for (x <- stripe * 16 until (stripe + 1) * 16; y <- 0 until 64)
        yield (x.toLong, y.toLong)
      TxLogTable.append(spark, rows.toDF("x", "y"), path)
    }
    val before = TxLogTable.read(spark, path)
      .as[(Long, Long)].collect().toSet

    val cv = TxLogTable.compact(spark, path,
      zorderBy = Seq("x", "y"), zorderBits = 6, targetFiles = 16)
    val after = TxLogTable.read(spark, path)
    assert(after.as[(Long, Long)].collect().toSet == before,
      "re-clustering must preserve the exact row set")
    // history: the pre-compaction snapshot still time-travels
    assert(TxLogTable.readVersion(spark, path, 1).count() == 2 * 16 * 64)

    // the payoff: a selective y-band now has files to skip
    val hit = after
      .groupBy(input_file_name().as("f"))
      .agg(min(col("y")).as("lo"), max(col("y")).as("hi"))
      .filter(col("lo") <= 15 && col("hi") >= 8)
      .count()
    val files = after.select(input_file_name()).distinct().count()
    assert(files >= 8, s"compaction should have produced multiple files, got $files")
    assert(hit * 2 <= files,
      s"y-band should overlap at most half the z-ordered files: $hit of $files")
  }

  test("vacuum (stray cleanup) never touches pre-compaction history") {
    val path = tmp
    TxLogTable.append(spark, Seq((1L, "a")).toDF("id", "v"), path)
    TxLogTable.append(spark, Seq((2L, "b")).toDF("id", "v"), path)
    TxLogTable.compact(spark, path)
    // all dirs are referenced by SOME version → stray vacuum removes none
    assert(TxLogTable.vacuum(path, graceMs = 0L).isEmpty)
    assert(TxLogTable.readVersion(spark, path, 0).count() == 1)
  }

  test("concurrent committers serialize via version-rename race") {
    val path = tmp
    val threads = (1 to 6).map { i =>
      new Thread(() => {
        TxLogTable.append(spark, Seq((i.toLong, s"t$i")).toDF("id", "v"), path)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(TxLogTable.read(spark, path).count() == 6)
    assert(TxLogTable.currentVersion(path) == 5) // 6 serialized commits: 0..5
  }

  test("object-store commit point: concurrent appends serialize through conditional put") {
    val path = tmp
    // one arbiter shared by all writers, as the store itself would be
    val store = new CommitPoint.ConditionalPut()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 6).map { i =>
      new Thread(() => {
        try TxLogTable.append(spark, Seq((i.toLong, s"t$i")).toDF("id", "v"), path,
          commit = store)
        catch { case t: Throwable => failures.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, failures.toString)
    assert(TxLogTable.read(spark, path).count() == 6)
    assert(TxLogTable.currentVersion(path) == 5)
    // every row survived exactly once (no commit replaced another)
    assert(TxLogTable.read(spark, path).select("id").as[Long].collect().toSet
      == (1L to 6L).toSet)
  }

  private def localFs(dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  test("conditional put: failed upload releases its claim, so a retry can win") {
    val store = new CommitPoint.ConditionalPut()
    val dir = java.nio.file.Files.createTempDirectory("graft-cp").toString
    val logDir = new org.apache.hadoop.fs.Path(dir)
    // an upload failure AFTER the arbiter claim. The old behavior kept
    // the claim forever: every retry of this version lost the arbiter
    // race and the table wedged permanently.
    val failing = new FailingCreateFs
    failing.initialize(java.net.URI.create("file:///"),
      spark.sessionState.newHadoopConf())
    intercept[java.io.IOException] {
      store.putIfAbsent(failing, logDir, "0.json", """{"version":0,"files":[]}""")
    }
    val (fs, _) = localFs(dir)
    assert(store.putIfAbsent(fs, logDir, "0.json", """{"version":0,"files":[]}"""),
      "claim leaked: retry after a failed upload could not win the version")
  }

  test("conditional put: out-of-band entry is a lost race, and nothing is replaced") {
    val store = new CommitPoint.ConditionalPut()
    val dir = java.nio.file.Files.createTempDirectory("graft-cp2")
    val target = dir.resolve("0.json")
    java.nio.file.Files.writeString(target, """{"version":0,"files":["theirs"]}""")
    val (fs, logDir) = localFs(dir.toString)
    // published by a different CommitPoint impl: lost race, not an exception
    assert(!store.putIfAbsent(fs, logDir, "0.json", """{"version":0,"files":["mine"]}"""))
    assert(java.nio.file.Files.readString(target).contains("theirs"),
      "putIfAbsent replaced an existing entry")
    // the store is not wedged for other versions
    assert(store.putIfAbsent(fs, logDir, "1.json", """{"version":1,"files":[]}"""))
  }

  test("conditional put: publish is atomic — no temp debris, entry appears whole") {
    val store = new CommitPoint.ConditionalPut()
    val dir = java.nio.file.Files.createTempDirectory("graft-cp3")
    val (fs, logDir) = localFs(dir.toString)
    val content = """{"version":0,"files":["a","b"]}"""
    assert(store.putIfAbsent(fs, logDir, "0.json", content))
    import scala.jdk.CollectionConverters._
    val listed = java.nio.file.Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filterNot(_ == ".crc").toSeq
    assert(listed.filterNot(_.endsWith(".crc")) == Seq("0.json"),
      s"unexpected log dir contents: $listed")
    assert(java.nio.file.Files.readString(dir.resolve("0.json")) == content)
  }

  test("object-store commit point: rebase still aborts when it loses the race") {
    val path = tmp
    val arbiter =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
    val store = new CommitPoint.ConditionalPut(arbiter)
    TxLogTable.append(spark, Seq((1L, "a")).toDF("id", "v"), path, commit = store)
    TxLogTable.append(spark, Seq((2L, "b")).toDF("id", "v"), path, commit = store)
    // a concurrent append that won the conditional put but whose entry
    // isn't visible yet (the window between compact's snapshot read and
    // its publish): claim the next version in the arbiter only
    val v0 = TxLogTable.currentVersion(path)
    val (fs, _) = localFs(path)
    val claimed = fs.makeQualified(new org.apache.hadoop.fs.Path(path, "_log"))
    arbiter.put(s"$claimed/${v0 + 1}.json", java.lang.Boolean.TRUE)
    intercept[java.util.ConcurrentModificationException] {
      TxLogTable.compact(spark, path, commit = store)
    }
    // the table is undamaged: both committed rows still readable
    assert(TxLogTable.readVersion(spark, path, v0).count() == 2)
  }

  test("txn: append is idempotent per (appId, version) — a replay is a no-op") {
    val path = tmp
    val v0 = TxLogTable.append(spark, Seq((1L, "a")).toDF("id", "v"), path,
      txn = Some(("writer-1", 0L)))
    assert(v0 == 0)
    // replay of the same (appId, txnVersion): no new version, no new rows
    val vr = TxLogTable.append(spark, Seq((1L, "a")).toDF("id", "v"), path,
      txn = Some(("writer-1", 0L)))
    assert(vr == v0)
    assert(TxLogTable.currentVersion(path) == v0)
    assert(TxLogTable.read(spark, path).count() == 1)
    // an EARLIER txn version is also rejected (watermark, not equality)
    TxLogTable.append(spark, Seq((2L, "b")).toDF("id", "v"), path,
      txn = Some(("writer-1", 1L)))
    val vOld = TxLogTable.append(spark, Seq((9L, "x")).toDF("id", "v"), path,
      txn = Some(("writer-1", 0L)))
    assert(vOld == 1 && TxLogTable.read(spark, path).count() == 2)
    assert(TxLogTable.lastTransaction(path, "writer-1") == Some(1L))
    // a different appId is independent
    TxLogTable.append(spark, Seq((3L, "c")).toDF("id", "v"), path,
      txn = Some(("writer-2", 0L)))
    assert(TxLogTable.read(spark, path).count() == 3)
    assert(TxLogTable.lastTransaction(path, "writer-2") == Some(0L))
    assert(TxLogTable.lastTransaction(path, "nobody") == None)
  }

  test("txn: concurrent replays of the same (appId, version) commit exactly once") {
    // the zombie-driver shape: two (here four) drivers replay the same
    // batch concurrently. The pre-stage watermark check is check-then-act
    // — all four can pass it — so the commit loop re-checks after every
    // lost race; exactly one transaction may land.
    val path = tmp
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to 4).map { i =>
      Future(TxLogTable.append(spark,
        Seq((i.toLong, s"w$i")).toDF("id", "v"), path,
        txn = Some(("replayer", 0L))))
    }
    Await.result(Future.sequence(fs), 120.seconds)
    assert(TxLogTable.currentVersion(path) == 0L,
      "only one of the concurrent same-txn appends may commit")
    assert(TxLogTable.read(spark, path).count() == 1)
    assert(TxLogTable.lastTransaction(path, "replayer") == Some(0L))
  }

  test("txn: a data- prefixed appId commits and survives the checkpoint") {
    val path = tmp
    (0 to 11).foreach { i =>
      TxLogTable.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "v"), path,
        txn = Some(("data-loader", i.toLong)))
      assert(TxLogTable.lastTransaction(path, "data-loader") == Some(i.toLong))
    }
    assert(Files.exists(java.nio.file.Paths.get(path, "_log", "10.checkpoint.json")))
    // the snapshot lists the twelve staged files and nothing named after the appId
    val files = TxLogTable.snapshotFiles(path, 11)
    assert(files.size == 12 && files.forall(_.endsWith(".parquet")), files)
    assert(TxLogTable.read(spark, path).count() == 12)
  }

  test("txn watermarks survive the checkpoint rollup") {
    val path = tmp
    (0 to 11).foreach { i =>
      TxLogTable.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "v"), path,
        txn = Some(("w", i.toLong)))
    }
    // interval 10 → the checkpoint at version 10 must carry the txn map
    assert(Files.exists(java.nio.file.Paths.get(path, "_log", "10.checkpoint.json")))
    assert(TxLogTable.lastTransaction(path, "w") == Some(11L))
    // a replay from before the checkpoint is still a no-op
    val v = TxLogTable.append(spark, Seq((99L, "z")).toDF("id", "v"), path,
      txn = Some(("w", 5L)))
    assert(v == 11 && TxLogTable.read(spark, path).count() == 12)
  }

  test("restore: log re-points to a historical snapshot; history and undo survive") {
    val path = tmp
    TxLogTable.append(spark, Seq((1L, "a")).toDF("id", "v"), path)   // v0
    TxLogTable.append(spark, Seq((2L, "b")).toDF("id", "v"), path)   // v1
    TxLogTable.append(spark, Seq((3L, "c")).toDF("id", "v"), path)   // v2

    val rv = TxLogTable.restore(spark, path, toVersion = 0)
    assert(rv == 3, "a restore is an ordinary commit")
    assert(TxLogTable.read(spark, path).as[(Long, String)].collect().toSet ==
      Set((1L, "a")), "head now shows version 0's data")
    // the pre-restore head is still time-travelable
    assert(TxLogTable.readVersion(spark, path, 2).count() == 3)
    // appends continue on top of the restored state
    TxLogTable.append(spark, Seq((4L, "d")).toDF("id", "v"), path)   // v4
    assert(TxLogTable.read(spark, path).count() == 2)
    // undo-the-restore is just another restore
    TxLogTable.restore(spark, path, toVersion = 2)                   // v5
    assert(TxLogTable.read(spark, path).count() == 3)

    // the delta mirror stays contiguous and replayable through restores
    val deltaDir = java.nio.file.Paths.get(path, "_delta_log")
    val entries = java.nio.file.Files.list(deltaDir).toArray.map(_.toString)
      .filter(_.endsWith(".json"))
    assert(entries.length == 6, s"one mirror entry per commit: ${entries.length}")

    // guards: out-of-range target; restoring past a vacuumed snapshot
    intercept[IllegalArgumentException] {
      TxLogTable.restore(spark, path, toVersion = 99)
    }
    TxLogTable.compact(spark, path, targetFileMB = 1)                // v6
    TxLogTable.vacuumCompacted(path, sinceVersion = 6)
    intercept[IllegalArgumentException] {
      TxLogTable.restore(spark, path, toVersion = 1)
    }
    // restoring to the still-live compacted snapshot works
    assert(TxLogTable.restore(spark, path, toVersion = 6) == 7)
    assert(TxLogTable.read(spark, path).count() == 3)
  }

  test("deleteWhere: copy-on-write erasure at head, history intact, no-match is a no-op") {
    val path = tmp
    TxLogTable.append(spark,
      Seq((1L, "keep"), (2L, "drop"), (3L, "keep")).toDF("id", "v"), path) // v0
    TxLogTable.append(spark, Seq((4L, "drop")).toDF("id", "v"), path)      // v1

    val v = TxLogTable.deleteWhere(spark, path, col("v") === "drop")
    assert(v == 2, "delete is an ordinary rebase commit")
    assert(TxLogTable.read(spark, path).select("id").as[Long].collect().toSet ==
      Set(1L, 3L))
    // pre-delete versions still read the dropped rows (copy-on-write)
    assert(TxLogTable.readVersion(spark, path, 1).count() == 4)
    // appends continue on the deleted head
    TxLogTable.append(spark, Seq((5L, "new")).toDF("id", "v"), path)       // v3
    assert(TxLogTable.read(spark, path).count() == 3)

    // no matching rows: no commit, no log churn, sentinel -1
    val before = TxLogTable.currentVersion(path)
    assert(TxLogTable.deleteWhere(spark, path, col("v") === "absent") == -1L)
    assert(TxLogTable.currentVersion(path) == before)

    // true erasure = delete + vacuum: the old data dirs disappear and
    // the dropped rows become unreadable at ANY version
    TxLogTable.vacuumCompacted(path, sinceVersion = 2)
    intercept[Exception] {
      TxLogTable.readVersion(spark, path, 1).collect()
    }
    assert(TxLogTable.read(spark, path).count() == 3, "head unharmed")
  }

  test("data skipping: stats-pruned readWhere drops provably-unmatching files") {
    val path = tmp
    // three single-file commits with disjoint id ranges → three files
    // with tight, non-overlapping min/max intervals in their stats
    Seq(0L until 100L, 100L until 200L, 200L until 300L).foreach { r =>
      TxLogTable.append(spark,
        r.map(i => (i, s"doc-$i", i * 2.5)).toDF("id", "v", "x").repartition(1),
        path)
    }
    // numeric range predicate: only the middle file may match
    val (kept, skipped) = TxLogTable.prunedFiles(spark, path,
      col("id") >= 150L && col("id") < 160L)
    assert(kept.size == 1 && skipped.size == 2,
      s"expected 1 kept / 2 skipped, got $kept / $skipped")
    val got = TxLogTable.readWhere(spark, path,
        col("id") >= 150L && col("id") < 160L)
      .select("id").as[Long].collect().toSet
    assert(got == (150L until 160L).toSet)
    // the pruned scan really reads one file
    val scanned = TxLogTable.readWhere(spark, path,
      col("id") >= 150L && col("id") < 160L).inputFiles
    assert(scanned.length == 1, scanned.mkString(","))
    // double column, equality — one file
    assert(TxLogTable.prunedFiles(spark, path, col("x") === 500.0)._1.size == 1)
    // string predicate prunes lexically (doc-250 sorts into every range
    // that contains strings around it; exactness is what matters)
    val sGot = TxLogTable.readWhere(spark, path, col("v") === "doc-250")
      .select("id").as[Long].collect().toSet
    assert(sGot == Set(250L))
    // OR keeps the union of both sides' candidates
    val (orKept, _) = TxLogTable.prunedFiles(spark, path,
      col("id") < 50L || col("id") >= 250L)
    assert(orKept.size == 2, orKept.mkString(","))
    // TYPE-COERCED literals still prune: `double_col = '500.0'` analyzes
    // with the STRING literal wrapped in a cast, and the condition must
    // constant-fold before the min/max evaluator sees it (an unfolded
    // cast-of-literal is opaque and silently kept every file — the
    // CompactProbe caught exactly this on int-typed partition values)
    val (coerced, coercedSkip) = TxLogTable.prunedFiles(spark, path,
      col("x") === "500.0")
    assert(coerced.size == 1 && coercedSkip.size == 2,
      s"string-literal equality on a double column must still prune: " +
        s"kept ${coerced.size}")
    // a predicate shape the evaluator can't reason about keeps everything
    val (allKept, none) = TxLogTable.prunedFiles(spark, path,
      col("id") % 10L === 0L)
    assert(none.isEmpty && allKept.size == 3)
    // and the unprunable read is still exact
    assert(TxLogTable.readWhere(spark, path, col("id") % 100L === 7L)
      .count() == 3)
    // impossible predicate: zero files scan, result is empty with schema
    val nothing = TxLogTable.readWhere(spark, path, col("id") > 1000L)
    assert(nothing.count() == 0 &&
      nothing.columns.toSeq == Seq("id", "v", "x"))
    // compaction recomputes stats on the rewritten layout: a z-ordered
    // rewrite by id keeps the ranges skippable
    TxLogTable.compact(spark, path, targetFiles = 3, zorderBy = Seq("id"))
    val (cKept, cSkipped) = TxLogTable.prunedFiles(spark, path,
      col("id") >= 150L && col("id") < 160L)
    assert(cSkipped.nonEmpty,
      s"post-compact stats must still skip: kept=$cKept")
    assert(TxLogTable.readWhere(spark, path,
        col("id") >= 150L && col("id") < 160L)
      .select("id").as[Long].collect().toSet == (150L until 160L).toSet)
  }

  test("data skipping edge cases: float/double equality, UTF-8 order, casts, NaN") {
    val path = tmp
    // floats and doubles whose shortest decimal forms differ from their
    // exact binary expansions (3.14f, 3.14) — stat and literal must
    // travel the SAME decimal path or equality pruning drops the file
    TxLogTable.append(spark,
      Seq((1L, 3.14f, 3.14, "a")).toDF("id", "f", "x", "v").repartition(1), path)
    TxLogTable.append(spark,
      Seq((2L, 9.5f, 9.5, "b")).toDF("id", "f", "x", "v").repartition(1), path)
    assert(TxLogTable.readWhere(spark, path, col("f") === 3.14f)
      .select("id").as[Long].collect().toSeq == Seq(1L))
    // float col vs DOUBLE literal goes through Cast(f as double), which
    // must NOT consult the shortest-decimal float stats: 3.14f widened
    // is 3.1400001049… > 3.14d, so the row matches though the stored
    // bound "3.14" would compare equal and prune
    assert(TxLogTable.readWhere(spark, path, col("f") > 3.14)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    assert(TxLogTable.readWhere(spark, path, col("x") === 3.14)
      .select("id").as[Long].collect().toSeq == Seq(1L))
    // and the equality still PRUNES the other file
    assert(TxLogTable.prunedFiles(spark, path, col("x") === 3.14)._2.nonEmpty)
    // a NaN literal is undecidable: keep-all, never a crash
    val (nanKept, nanSkipped) =
      TxLogTable.prunedFiles(spark, path, col("x") === Double.NaN)
    assert(nanSkipped.isEmpty && nanKept.size == 2)
    // supplementary-plane strings: Spark min/max order is UTF-8 binary;
    // U+FFFF sorts BELOW U+1F600 by code point though Java's UTF-16
    // compareTo says otherwise — the match must not be pruned
    val path2 = tmp
    TxLogTable.append(spark,
      Seq((1L, "￿"), (2L, "😀")).toDF("id", "v").repartition(1),
      path2)
    TxLogTable.append(spark,
      Seq((3L, "aaa")).toDF("id", "v").repartition(1), path2)
    assert(TxLogTable.readWhere(spark, path2, col("v") === "😀")
      .select("id").as[Long].collect().toSeq == Seq(2L))
    // a narrowing (truncating) cast must NOT consult pre-cast stats:
    // cast(3.7 as int) = 3 matches the probe, but the file's double
    // stats are [3.7, 3.7] and an interval check against 3 would prune
    val path3 = tmp
    TxLogTable.append(spark,
      Seq((3.7, "trunc")).toDF("x", "v").repartition(1), path3)
    TxLogTable.append(spark,
      Seq((8.2, "other")).toDF("x", "v").repartition(1), path3)
    assert(TxLogTable.readWhere(spark, path3, col("x").cast("int") === 3)
      .select("v").as[String].collect().toSeq == Seq("trunc"))
    // while a plain comparison on the same table still prunes
    assert(TxLogTable.prunedFiles(spark, path3, col("x") === 3.7)._2.nonEmpty)
  }

  test("deleteWhere: rows with a NULL predicate survive, co-filed or not") {
    val path = tmp
    // file A holds a matching row AND a NULL row; file B holds only a
    // NULL row — SQL DELETE erases TRUE rows only, so both NULL rows
    // must survive even though file A rewrites
    TxLogTable.append(spark,
      Seq((1L, Some(7)), (2L, None)).toDF("id", "x").repartition(1), path)
    TxLogTable.append(spark,
      Seq((3L, None: Option[Int])).toDF("id", "x").repartition(1), path)
    TxLogTable.deleteWhere(spark, path, col("x") === 7)
    assert(TxLogTable.read(spark, path).select("id").as[Long].collect().toSet ==
      Set(2L, 3L),
      "NULL-predicate rows must survive a delete regardless of file placement")
  }

  test("changesBetween: the empty feed still carries the table's columns") {
    val path = tmp
    TxLogTable.append(spark, Seq((1L, "a")).toDF("id", "v"), path)
    val empty = TxLogTable.changesBetween(spark, path, 0L, 0L)
    assert(empty.columns.toSeq == Seq("id", "v", "_change_type"))
    assert(empty.select(col("id"), col("_change_type")).count() == 0)
  }

  test("DML file pruning: untouched files carry by reference, only touched rewrite") {
    val path = tmp
    // repartition(1) so each append publishes exactly one data file
    TxLogTable.append(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1), path)  // v0: fA
    TxLogTable.append(spark,
      Seq((3L, "c"), (4L, "d")).toDF("id", "v").repartition(1), path)  // v1: fB
    val at1 = TxLogTable.filesAt(path, 1L)
    assert(at1.size == 2)
    // resolve which file holds id 1 by reading it
    val fA = at1.find(f => spark.read.parquet(s"$path/$f")
      .filter(col("id") === 1L).count() > 0).get
    val fB = at1.filterNot(_ == fA).head
    // predicate delete touches ONLY fA; fB must carry by reference
    TxLogTable.deleteWhere(spark, path, col("id") === 1L)              // v2
    val at2 = TxLogTable.filesAt(path, 2L)
    assert(at2.contains(fB), s"untouched file must carry by reference: $at2")
    assert(!at2.contains(fA), s"touched file must be rewritten out: $at2")
    assert(TxLogTable.read(spark, path).as[(Long, String)].collect().toSet ==
      Set((2L, "b"), (3L, "c"), (4L, "d")))
    // same-schema upsert matching only fB's keys carries fA's rewrite
    val fC = at2.filterNot(_ == fB).head
    TxLogTable.upsertByKey(spark, path,
      Seq((3L, "C2")).toDF("id", "v"), Seq("id"))                      // v3
    val at3 = TxLogTable.filesAt(path, 3L)
    assert(at3.contains(fC), s"file without matched keys must carry: $at3")
    assert(!at3.contains(fB), s"file holding the matched key must rewrite: $at3")
    assert(TxLogTable.read(spark, path).as[(Long, String)].collect().toSet ==
      Set((2L, "b"), (3L, "C2"), (4L, "d")))
    // pure-insert upsert (no matched keys) touches nothing: every prior
    // file carries, only the new rows stage
    TxLogTable.upsertByKey(spark, path,
      Seq((5L, "e")).toDF("id", "v"), Seq("id"))                       // v4
    val at4 = TxLogTable.filesAt(path, 4L)
    assert(at3.forall(at4.contains), s"pure insert must carry all files: $at4")
    // deleting every row of a file drops it without staging a residue
    TxLogTable.deleteWhere(spark, path, col("id") === 5L)              // v5
    assert(TxLogTable.read(spark, path).as[(Long, String)].collect().toSet ==
      Set((2L, "b"), (3L, "C2"), (4L, "d")))
    // history unaffected by pruning: every version still time-travels
    assert(TxLogTable.readVersion(spark, path, 1L)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // and the change feed across the pruned commits is still exact
    val feed = TxLogTable.changesBetween(spark, path, 1L, 3L)
      .select(col("id"), col("v"), col("_change_type"))
      .as[(Long, String, String)].collect().toSet
    assert(feed == Set((1L, "a", "delete"),
      (3L, "c", "delete"), (3L, "C2", "insert")))
  }

  test("changesBetween: append+delete+upsert yield the exact change set") {
    val path = tmp
    TxLogTable.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), path)      // v0
    TxLogTable.append(spark, Seq((4L, "d")).toDF("id", "v"), path)      // v1
    TxLogTable.deleteWhere(spark, path, col("id") === 2L)               // v2
    TxLogTable.upsertByKey(spark, path,
      Seq((3L, "C2"), (5L, "e")).toDF("id", "v"), Seq("id"))            // v3

    def feed(from: Long, to: Long): Set[(Long, String, String)] =
      TxLogTable.changesBetween(spark, path, from, to)
        .select(col("id"), col("v"), col("_change_type"))
        .as[(Long, String, String)].collect().toSet

    // pure append window: inserts only
    assert(feed(0, 1) == Set((4L, "d", "insert")))
    // delete window: the erased row is the whole feed
    assert(feed(1, 2) == Set((2L, "b", "delete")))
    // upsert window: replaced row = delete(old) + insert(new); fresh key = insert
    assert(feed(2, 3) == Set(
      (3L, "c", "delete"), (3L, "C2", "insert"), (5L, "e", "insert")))
    // full range composes: net effect of every commit
    assert(feed(0, 3) == Set(
      (4L, "d", "insert"), (2L, "b", "delete"),
      (3L, "c", "delete"), (3L, "C2", "insert"), (5L, "e", "insert")))
    // from = -1 means "since before the table": everything at head is insert
    assert(feed(-1, 3) == Set(
      (1L, "a", "insert"), (3L, "C2", "insert"),
      (4L, "d", "insert"), (5L, "e", "insert")))
    // empty range is an empty feed
    assert(TxLogTable.changesBetween(spark, path, 3, 3).count() == 0)
    intercept[IllegalArgumentException] {
      TxLogTable.changesBetween(spark, path, 2, 1)
    }
  }

  test("changesBetween: compaction and restore preserve the feed semantics") {
    val path = tmp
    TxLogTable.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path) // v0
    TxLogTable.append(spark, Seq((3L, "c")).toDF("id", "v"), path)            // v1
    TxLogTable.compact(spark, path, targetFiles = 1)                          // v2
    // a pure compaction rewrites files but changes no rows: empty feed
    assert(TxLogTable.changesBetween(spark, path, 1, 2).count() == 0)
    // and the feed ACROSS the compaction still sees only real changes
    val across = TxLogTable.changesBetween(spark, path, 0, 2)
      .select(col("id"), col("v"), col("_change_type"))
      .as[(Long, String, String)].collect().toSet
    assert(across == Set((3L, "c", "insert")))
    TxLogTable.deleteWhere(spark, path, col("id") === 1L)                     // v3
    TxLogTable.restore(spark, path, 2L)                                       // v4
    // restore undoes the delete: the v2→v4 feed is empty (same snapshot)
    assert(TxLogTable.changesBetween(spark, path, 2, 4).count() == 0)
    // and the v3→v4 feed shows the row coming back
    val back = TxLogTable.changesBetween(spark, path, 3, 4)
      .select(col("id"), col("v"), col("_change_type"))
      .as[(Long, String, String)].collect().toSet
    assert(back == Set((1L, "a", "insert")))
  }

  test("changesBetween: schema widening surfaces null-padded old images") {
    val path = tmp
    TxLogTable.append(spark, Seq((1L, "a")).toDF("id", "v"), path)            // v0
    TxLogTable.upsertByKey(spark, path,
      Seq((1L, "A2", 7)).toDF("id", "v", "x"), Seq("id"))                     // v1
    val feed = TxLogTable.changesBetween(spark, path, 0, 1)
      .select(col("id"), col("v"), col("x"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1 else r.getInt(2), r.getString(3))).toSet
    assert(feed == Set((1L, "a", -1, "delete"), (1L, "A2", 7, "insert")))
  }

  test("upsertByKey: matched rows replaced, unmatched inserted, history intact") {
    val path = tmp
    TxLogTable.append(spark,
      Seq((1L, "old-a", 10), (2L, "old-b", 20)).toDF("id", "v", "x"), path) // v0
    val updates = Seq((2L, "NEW-b", 99), (3L, "new-c", 30)).toDF("id", "v", "x")
    val v = TxLogTable.upsertByKey(spark, path, updates, Seq("id"))
    assert(v == 1)
    val head = TxLogTable.read(spark, path)
      .as[(Long, String, Int)].collect().toSet
    assert(head == Set((1L, "old-a", 10), (2L, "NEW-b", 99), (3L, "new-c", 30)),
      s"matched replaced, unmatched inserted, rest carried: $head")
    // pre-merge snapshot intact
    assert(TxLogTable.readVersion(spark, path, 0)
      .filter(col("v") === "old-b").count() == 1)
    // key-duplicate updates are rejected before any commit
    val before = TxLogTable.currentVersion(path)
    intercept[IllegalArgumentException] {
      TxLogTable.upsertByKey(spark, path,
        Seq((5L, "p", 1), (5L, "q", 2)).toDF("id", "v", "x"), Seq("id"))
    }
    assert(TxLogTable.currentVersion(path) == before)
  }

  test("timestampAsOf: versionAsOf resolves through restores, monotone history") {
    val path = tmp
    TxLogTable.append(spark, Seq((1L, "a")).toDF("id", "v"), path) // v0
    TxLogTable.append(spark, Seq((2L, "b")).toDF("id", "v"), path) // v1
    TxLogTable.deleteWhere(spark, path, col("id") === 1L)          // v2
    TxLogTable.restore(spark, path, 0L)                            // v3
    val h = TxLogTable.history(path)
    assert(h.map(_._1) == Seq(0L, 1L, 2L, 3L))
    // monotonized: strictly increasing even under same-ms commits
    assert(h.map(_._2) == h.map(_._2).sorted &&
      h.map(_._2).distinct.size == 4, h.toString)
    // each commit's own timestamp resolves to exactly that version
    h.foreach { case (v, ts) =>
      assert(TxLogTable.versionAsOf(path, ts) == v, s"ts $ts -> $v")
    }
    // a timestamp AFTER the restore reads the restored (v0) snapshot,
    // not the pre-restore head — restores are ordinary commits
    val after = TxLogTable.readAsOf(spark, path, h.last._2 + 60000)
      .as[(Long, String)].collect().toSet
    assert(after == Set((1L, "a")))
    // between v1 and v2: both rows visible
    assert(TxLogTable.readAsOf(spark, path, h(1)._2)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    // predating the first commit is an error, not an empty read
    intercept[IllegalArgumentException] {
      TxLogTable.versionAsOf(path, h.head._2 - 1)
    }
  }

  test("mergeByKey: DELETE-then-UPDATE clause order, conditional carry, inserts") {
    val path = tmp
    TxLogTable.append(spark, Seq(
      (1L, "keep-low", 10.0), (2L, "upd-me", 20.0),
      (3L, "del-me", 30.0), (4L, "untouched", 40.0)
    ).toDF("id", "v", "bal").repartition(1), path) // v0
    val updates = Seq(
      (1L, "s-lower", 10.0),  // matched, equal bal: neither clause fires → carry
      (2L, "s-higher", 25.0), // matched, s.bal > t.bal → update
      (3L, "s-del", 5.0),     // matched, s.bal < t.bal → delete
      (9L, "s-new", 90.0)     // unmatched → insert
    ).toDF("id", "v", "bal")
    val v = TxLogTable.mergeByKey(spark, path, updates, Seq("id"),
      whenMatchedUpdateIf = Some("s.bal > t.bal"),
      whenMatchedDeleteIf = Some("s.bal < t.bal"))
    assert(v == 1)
    val head = TxLogTable.read(spark, path)
      .as[(Long, String, Double)].collect().toSet
    assert(head == Set(
      (1L, "keep-low", 10.0), (2L, "s-higher", 25.0),
      (4L, "untouched", 40.0), (9L, "s-new", 90.0)), head.toString)
    // history intact through the rebase
    assert(TxLogTable.readVersion(spark, path, 0).count() == 4)
    // a row satisfying BOTH clauses deletes (clause order is fixed)
    TxLogTable.mergeByKey(spark, path,
      Seq((2L, "boom", 999.0)).toDF("id", "v", "bal"), Seq("id"),
      whenMatchedUpdateIf = Some("true"),
      whenMatchedDeleteIf = Some("s.bal > t.bal"))
    assert(TxLogTable.read(spark, path).filter(col("id") === 2L).count() == 0)
    // no-match + no-insert is a no-op that does not commit
    val before = TxLogTable.currentVersion(path)
    val r = TxLogTable.mergeByKey(spark, path,
      Seq((777L, "x", 1.0)).toDF("id", "v", "bal"), Seq("id"),
      insertUnmatched = false)
    assert(r == -1L && TxLogTable.currentVersion(path) == before)
    // default conditions ≡ upsertByKey (unconditional update + insert)
    TxLogTable.mergeByKey(spark, path,
      Seq((4L, "plain", 44.0)).toDF("id", "v", "bal"), Seq("id"))
    assert(TxLogTable.read(spark, path).filter(col("id") === 4L)
      .as[(Long, String, Double)].head() == ((4L, "plain", 44.0)))
  }

  test("mergeByKey: file-pruned — untouched files carry by reference") {
    val path = tmp
    Seq(0L until 50L, 50L until 100L, 100L until 150L).foreach { r =>
      TxLogTable.append(spark,
        r.map(i => (i, s"v$i", i * 1.0)).toDF("id", "v", "bal")
          .repartition(1), path)
    }
    val filesBefore = TxLogTable.read(spark, path).inputFiles.toSet
    // merge keys live only in the middle file's range
    TxLogTable.mergeByKey(spark, path,
      Seq((60L, "m60", 600.0), (70L, "m70", 7.0)).toDF("id", "v", "bal"),
      Seq("id"),
      whenMatchedUpdateIf = Some("s.bal > t.bal"),
      whenMatchedDeleteIf = Some("s.bal < t.bal"))
    val filesAfter = TxLogTable.read(spark, path).inputFiles.toSet
    // the two range-disjoint files carry BY REFERENCE (same physical
    // paths); only the touched middle file was rewritten
    assert(filesBefore.intersect(filesAfter).size == 2,
      s"before=$filesBefore after=$filesAfter")
    assert(TxLogTable.read(spark, path).count() == 149) // 70 deleted
    assert(TxLogTable.read(spark, path).filter(col("id") === 60L)
      .select("v").as[String].head() == "m60")
  }

  test("historyDf + changesPerVersion: operations recorded; compaction step feeds empty") {
    val path = tmp
    TxLogTable.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path) // v0
    TxLogTable.append(spark, Seq((3L, "c")).toDF("id", "v"), path)            // v1
    TxLogTable.deleteWhere(spark, path, col("id") === 2L)                     // v2
    TxLogTable.compact(spark, path, targetFiles = 1)                          // v3
    TxLogTable.upsertByKey(spark, path,
      Seq((1L, "A2"), (9L, "i")).toDF("id", "v"), Seq("id"))                  // v4
    val h = TxLogTable.historyDf(spark, path)
      .select("version", "operation", "is_rebase")
      .as[(Long, String, Boolean)].collect().toSeq.sortBy(_._1)
    assert(h == Seq((0L, "append", false), (1L, "append", false),
      (2L, "delete", true), (3L, "compact", true), (4L, "upsert", true)), h)
    val feed = TxLogTable.changesPerVersion(spark, path, 0L, 4L)
      .select(col("_commit_version"), col("id"), col("v"), col("_change_type"))
      .as[(Long, Long, String, String)].collect().toSet
    assert(feed == Set(
      (1L, 3L, "c", "insert"),
      (2L, 2L, "b", "delete"),
      // v3 compaction: rewrite, zero row changes — nothing from it
      (4L, 1L, "a", "delete"), (4L, 1L, "A2", "insert"),
      (4L, 9L, "i", "insert")), feed.toString)
    // _commit_timestamp carries the monotonized history instants
    val ts = TxLogTable.changesPerVersion(spark, path, 0L, 4L)
      .select("_commit_version", "_commit_timestamp").distinct()
      .as[(Long, java.sql.Timestamp)].collect().toMap
    val hist = TxLogTable.history(path).toMap
    assert(ts.forall { case (v, t) => t.getTime == hist(v) })
  }

  test("hive partitionBy: partition columns recover on read; pruning opens zero files outside") {
    val path = tmp
    val rows = (0L until 300L).map(i =>
      (i, s"v$i", (i % 3) match { case 0 => "a"; case 1 => "b"; case _ => "c" }))
    TxLogTable.append(spark, rows.toDF("id", "v", "p").repartition(2),
      path, partitionBy = Seq("p"))
    // partition column recovered as a real column
    val head = TxLogTable.read(spark, path)
    assert(head.columns.contains("p") && head.count() == 300)
    assert(head.filter(col("p") === "b").count() == 100)
    // PARTITION pruning: a p-predicate drops every foreign-partition
    // file from the listing before any footer or sidecar opens
    val (kept, skipped) = TxLogTable.prunedFiles(spark, path, col("p") === "b")
    assert(kept.nonEmpty && kept.forall(_.contains("p=b")), kept.mkString(","))
    assert(skipped.nonEmpty && skipped.forall(!_.contains("p=b")),
      skipped.mkString(","))
    val scanned = TxLogTable.readWhere(spark, path, col("p") === "b").inputFiles
    assert(scanned.forall(_.contains("p=b")), scanned.mkString(","))
    // mixed predicate: partition prune AND data-column stats both apply
    val got = TxLogTable.readWhere(spark, path,
        col("p") === "b" && col("id") < 30L)
      .select("id").as[Long].collect().toSet
    assert(got == (0L until 30L).filter(_ % 3 == 1).toSet)
    // int-typed partition values prune numerically
    val path2 = tmp
    TxLogTable.append(spark,
      (0L until 100L).map(i => (i, (i / 50).toInt)).toDF("id", "bucket"),
      path2, partitionBy = Seq("bucket"))
    val (k2, s2) = TxLogTable.prunedFiles(spark, path2, col("bucket") === 1)
    assert(k2.forall(_.contains("bucket=1")) && s2.nonEmpty)
  }

  test("hive partitionBy: DML rewrites only within matched partitions") {
    val path = tmp
    val rows = (0L until 300L).map(i => (i, s"v$i", s"part${i % 3}"))
    TxLogTable.append(spark, rows.toDF("id", "v", "p").repartition(1),
      path, partitionBy = Seq("p"))
    val before = TxLogTable.read(spark, path).inputFiles.toSet
    // delete inside ONE partition: the other partitions' files carry
    // by reference, and the rewrite stays hive-partitioned
    TxLogTable.deleteWhere(spark, path,
      col("p") === "part1" && col("id") < 100L)
    val after = TxLogTable.read(spark, path).inputFiles.toSet
    val untouchedCarried = before.intersect(after)
    assert(untouchedCarried.nonEmpty &&
      untouchedCarried.forall(f => !f.contains("p=part1")),
      s"only part1 files may rewrite: carried=$untouchedCarried")
    assert(after.exists(f => f.contains("p=part1") && !before.contains(f)),
      "the rewritten slice keeps its hive layout")
    assert(TxLogTable.read(spark, path).count() == 300 - 33)
    // upsert keyed into one partition: same containment
    val b2 = TxLogTable.read(spark, path).inputFiles.toSet
    TxLogTable.upsertByKey(spark, path,
      Seq((2L, "UP", "part2")).toDF("id", "v", "p"), Seq("id"))
    val a2 = TxLogTable.read(spark, path).inputFiles.toSet
    assert(b2.intersect(a2).forall(f => !f.contains("p=part2")))
    assert(TxLogTable.read(spark, path)
      .filter(col("id") === 2L).select("v").as[String].head() == "UP")
  }

  test("hive partitionBy: partition evolution is safe (mixed layouts read+prune)") {
    val path = tmp
    // v0 unpartitioned, v1 partitioned — layouts coexist
    TxLogTable.append(spark,
      Seq((1L, "x", "a"), (2L, "y", "b")).toDF("id", "v", "p"), path)
    TxLogTable.append(spark,
      Seq((3L, "z", "a"), (4L, "w", "b")).toDF("id", "v", "p"),
      path, partitionBy = Seq("p"))
    val head = TxLogTable.read(spark, path)
    assert(head.count() == 4 && head.columns.toSet == Set("id", "v", "p"))
    assert(head.filter(col("p") === "a").select("id").as[Long]
      .collect().toSet == Set(1L, 3L))
    // pruning on p: partitioned files outside p=a drop by PATH; the
    // unpartitioned file is judged by its own p-column SIDECAR stats
    // (p is a data column there) — never wrongly pruned
    val (kept, _) = TxLogTable.prunedFiles(spark, path, col("p") === "a")
    assert(kept.exists(_.contains("p=a")) && !kept.exists(_.contains("p=b")))
    val got = TxLogTable.readWhere(spark, path, col("p") === "a")
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 3L))
    // delete across both layouts stays exact
    TxLogTable.deleteWhere(spark, path, col("p") === "b")
    assert(TxLogTable.read(spark, path).select("id").as[Long]
      .collect().toSet == Set(1L, 3L))
  }

  test("timestamp columns carry footer stats (INT64 micros) and prune") {
    val path = tmp
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    TxLogTable.append(spark, Seq(
      (1L, t("2024-01-01 00:00:00")), (2L, t("2024-01-31 23:59:59"))
    ).toDF("id", "ts").repartition(1), path)
    TxLogTable.append(spark, Seq(
      (3L, t("2024-06-01 00:00:00")), (4L, t("2024-06-30 12:00:00"))
    ).toDF("id", "ts").repartition(1), path)
    val (kept, skipped) = TxLogTable.prunedFiles(spark, path,
      col("ts") >= lit(t("2024-06-01 00:00:00")))
    assert(kept.size == 1 && skipped.size == 1,
      s"timestamp stats must prune: kept=$kept skipped=$skipped")
    assert(TxLogTable.readWhere(spark, path,
        col("ts") >= lit(t("2024-06-01 00:00:00")))
      .select("id").as[Long].collect().toSet == Set(3L, 4L))
  }

  test("CHECK constraints: staged writes validate, violations abort pre-stage, NULL passes") {
    val path = tmp
    TxLogTable.append(spark,
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amount"), path)
    // add on a satisfying snapshot
    TxLogTable.addCheckConstraint(spark, path, "amount_pos", "amount > 0")
    assert(TxLogTable.checkConstraints(path) == Map("amount_pos" -> "amount > 0"))
    // adding a constraint the existing data violates is rejected
    intercept[IllegalStateException] {
      TxLogTable.addCheckConstraint(spark, path, "amount_big", "amount > 15")
    }
    assert(TxLogTable.checkConstraints(path).size == 1)
    // violating append aborts BEFORE staging: version unchanged, no new
    // data dir appears under the root
    val dirsBefore = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("data-")).map(_.getName).toSet
    intercept[IllegalStateException] {
      TxLogTable.append(spark, Seq((3L, -5.0)).toDF("id", "amount"), path)
    }
    assert(TxLogTable.currentVersion(path) == 0L)
    val dirsAfter = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("data-")).map(_.getName).toSet
    assert(dirsAfter == dirsBefore, "violating append must stage nothing")
    // NULL passes (SQL CHECK semantics); valid rows commit
    TxLogTable.append(spark,
      Seq((3L, Some(5.0)), (4L, None)).toDF("id", "amount"), path)
    assert(TxLogTable.read(spark, path).count() == 4)
    // upsert enforcement
    intercept[IllegalStateException] {
      TxLogTable.upsertByKey(spark, path,
        Seq((1L, Some(-1.0))).toDF("id", "amount"), Seq("id"))
    }
    // a predicate DELETE (stages only surviving pre-existing rows)
    // still works with constraints present
    TxLogTable.deleteWhere(spark, path, col("id") === 2L)
    assert(TxLogTable.read(spark, path).select("id").as[Long].collect().toSet
      == Set(1L, 3L, 4L))
    // drop → formerly violating rows admit
    TxLogTable.dropCheckConstraint(path, "amount_pos")
    TxLogTable.append(spark, Seq((9L, Some(-5.0))).toDF("id", "amount"), path)
    assert(TxLogTable.read(spark, path).count() == 4)
  }

  test("shallowClone: snapshot-identical, link-not-copy, independent evolution, carries constraints") {
    val src = tmp
    val rows = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
    TxLogTable.append(spark, rows.toDF("id", "grp", "amount"), src) // v0
    TxLogTable.deleteWhere(spark, src, col("id") === 2L)            // v1
    TxLogTable.addCheckConstraint(spark, src, "amount_pos", "amount > 0")
    val dest = tmp + "-clone"
    val v = TxLogTable.shallowClone(spark, src, dest)
    assert(v == 0L)
    // clone == source head snapshot
    assert(TxLogTable.read(spark, dest).select("id").as[Long].collect().toSet
      == Set(1L, 3L))
    // local FS: files are hard links, not copies (same inode → nlink 2)
    val firstFile = new java.io.File(dest).listFiles()
      .filter(_.getName.startsWith("data-")).head.listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val nlink = java.nio.file.Files.getAttribute(
      firstFile.toPath, "unix:nlink").asInstanceOf[Number].intValue
    assert(nlink >= 2, s"clone must hard-link on local fs (nlink=$nlink)")
    // constraints carried: a violating append into the CLONE aborts
    intercept[IllegalStateException] {
      TxLogTable.append(spark,
        Seq((9L, "z", -1.0)).toDF("id", "grp", "amount"), dest)
    }
    // independent evolution: DML in the clone never touches the source
    TxLogTable.append(spark,
      Seq((7L, "c", 7.0)).toDF("id", "grp", "amount"), dest)
    TxLogTable.deleteWhere(spark, dest, col("id") === 1L)
    assert(TxLogTable.read(spark, src).select("id").as[Long].collect().toSet
      == Set(1L, 3L), "source must be untouched by clone DML")
    assert(TxLogTable.read(spark, dest).select("id").as[Long].collect().toSet
      == Set(3L, 7L))
    // version-as-of clone sees the pre-delete snapshot
    val dest0 = tmp + "-clone0"
    TxLogTable.shallowClone(spark, src, dest0, version = Some(0L))
    assert(TxLogTable.read(spark, dest0).select("id").as[Long].collect().toSet
      == Set(1L, 2L, 3L))
    // cloning onto an existing table refuses
    intercept[IllegalArgumentException] {
      TxLogTable.shallowClone(spark, src, dest)
    }
    // stats sidecars rode along: a stats-pruned point read on the clone
    // still skips foreign files
    val (kept, skipped) = TxLogTable.prunedFiles(spark, dest0, col("id") === 1L)
    assert(kept.nonEmpty, "clone must keep its stats sidecars")
  }

  test("overwrite: atomic replace, history intact, txn-idempotent, constraint-checked") {
    val path = tmp
    TxLogTable.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path) // v0
    TxLogTable.overwrite(spark, Seq((9L, "z")).toDF("id", "v"), path)         // v1
    assert(TxLogTable.read(spark, path).select("id").as[Long].collect().toSet == Set(9L))
    // every earlier version stays time-travelable
    assert(TxLogTable.readVersion(spark, path, 0L).select("id")
      .as[Long].collect().toSet == Set(1L, 2L))
    assert(TxLogTable.historyDf(spark, path)
      .filter(col("version") === 1L).select("operation")
      .as[String].head() == "overwrite")
    // txn idempotency: a replayed overwrite is a no-op
    TxLogTable.overwrite(spark, Seq((7L, "q")).toDF("id", "v"), path,
      txn = Some(("ow-app", 5L)))                                             // v2
    val v = TxLogTable.currentVersion(path)
    TxLogTable.overwrite(spark, Seq((8L, "r")).toDF("id", "v"), path,
      txn = Some(("ow-app", 5L)))
    assert(TxLogTable.currentVersion(path) == v, "replayed overwrite must no-op")
    // constraints gate overwrites too
    TxLogTable.addCheckConstraint(spark, path, "id_pos", "id > 0")
    intercept[IllegalStateException] {
      TxLogTable.overwrite(spark, Seq((-1L, "x")).toDF("id", "v"), path)
    }
  }

  test("changesPerVersion: wide ranges chunk to a bounded plan with the identical feed") {
    val path = tmp
    (0 until 100).foreach { i =>
      TxLogTable.append(spark,
        Seq((i.toLong, s"r$i")).toDF("id", "v").repartition(1), path)
    }
    def feed(maxCommits: Int) = TxLogTable.changesPerVersion(
      spark, path, -1L, 99L, maxCommits = maxCommits)
    val chunked = feed(10)
    val direct = feed(1000)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("v"), col("_commit_version"))
        .as[(Long, String, Long)].collect().toSet
    val a = rows(chunked)
    assert(a == rows(direct) && a.size == 100,
      "chunking must not change the feed")
    // every chunk re-roots to ONE plan leaf; the direct plan carries
    // one scan per commit
    val chunkedLeaves = chunked.queryExecution.analyzed.collectLeaves().size
    val directLeaves = direct.queryExecution.analyzed.collectLeaves().size
    assert(chunkedLeaves <= 10,
      s"a 100-commit range at maxCommits=10 must present <=10 leaves, " +
        s"got $chunkedLeaves")
    assert(directLeaves >= 100,
      s"sanity: the unchunked plan scans per commit, got $directLeaves")
  }

  test("updateWhere: SET projections on matched rows, pre-update RHS, history intact") {
    val path = tmp
    TxLogTable.append(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("id", "v", "x"), path)                                    // v0
    val v = TxLogTable.updateWhere(spark, path,
      Map("v" -> concat(col("v"), lit("!")), "x" -> (col("x") + 1)),
      col("id") >= 2L)                                                  // v1
    assert(v == 1, "update is an ordinary rebase commit")
    assert(TxLogTable.read(spark, path).as[(Long, String, Long)]
      .collect().toSet ==
      Set((1L, "a", 10L), (2L, "b!", 21L), (3L, "c!", 31L)))
    // copy-on-write: the pre-update snapshot still reads the old rows
    assert(TxLogTable.readVersion(spark, path, 0).as[(Long, String, Long)]
      .collect().toSet ==
      Set((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
    // SQL UPDATE semantics: RHS evaluates against the PRE-update row,
    // so SET a = b, b = a swaps
    val pSwap = tmp
    TxLogTable.append(spark,
      Seq((1L, 7L, 9L)).toDF("id", "a", "b"), pSwap)
    TxLogTable.updateWhere(spark, pSwap,
      Map("a" -> col("b"), "b" -> col("a")), lit(true))
    assert(TxLogTable.read(spark, pSwap).as[(Long, Long, Long)].head() ==
      ((1L, 9L, 7L)), "swap must read pre-update values")
    // no matching rows: no commit, sentinel -1
    val before = TxLogTable.currentVersion(path)
    assert(TxLogTable.updateWhere(spark, path,
      Map("v" -> lit("z")), col("id") === 99L) == -1L)
    assert(TxLogTable.currentVersion(path) == before)
    // NULL predicate counts false: those rows carry unchanged
    val p2 = tmp
    TxLogTable.append(spark,
      Seq((1L, Some(1L)), (2L, None), (3L, Some(3L)))
        .toDF("id", "n"), p2)
    TxLogTable.updateWhere(spark, p2,
      Map("id" -> (col("id") + 100L)), col("n") > 0L)
    assert(TxLogTable.read(spark, p2).select("id").as[Long]
      .collect().toSet == Set(101L, 2L, 103L),
      "NULL-predicate rows must carry unchanged")
    // unknown SET target rejects before any work
    intercept[IllegalArgumentException] {
      TxLogTable.updateWhere(spark, p2, Map("nope" -> lit(1)), lit(true))
    }
  }

  test("updateWhere: SET is cast to the column's current type — no schema drift") {
    val path = tmp
    TxLogTable.append(spark,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "x"), path)
    // a string literal RHS must land as LONG in the rewritten file
    TxLogTable.updateWhere(spark, path,
      Map("x" -> lit("42")), col("id") === 1L)
    val head = TxLogTable.read(spark, path)
    assert(head.schema("x").dataType ==
      org.apache.spark.sql.types.LongType,
      s"column type must not drift: ${head.schema("x").dataType}")
    assert(head.as[(Long, Long)].collect().toSet ==
      Set((1L, 42L), (2L, 20L)))
  }

  test("updateWhere: file-pruned — only files containing matches rewrite") {
    val path = tmp
    // three single-file commits with disjoint id ranges
    Seq(0L until 100L, 100L until 200L, 200L until 300L).foreach { r =>
      TxLogTable.append(spark,
        r.map(i => (i, i * 2L)).toDF("id", "x").repartition(1), path)
    }
    val at2 = TxLogTable.filesAt(path, 2L)
    assert(at2.size == 3)
    val fMid = at2.find(f => spark.read.parquet(s"$path/$f")
      .filter(col("id") === 150L).count() > 0).get
    TxLogTable.updateWhere(spark, path,
      Map("x" -> lit(-1L)), col("id") >= 150L && col("id") < 160L)      // v3
    val at3 = TxLogTable.filesAt(path, 3L)
    assert(!at3.contains(fMid), s"matched file must rewrite: $at3")
    assert(at2.filterNot(_ == fMid).forall(at3.contains),
      s"both unmatched files must carry by reference: $at3")
    assert(at3.size == 3, s"one staged file replaces one touched: $at3")
    assert(TxLogTable.read(spark, path)
      .filter(col("x") === -1L).count() == 10)
    assert(TxLogTable.read(spark, path).count() == 300)
  }

  test("mergeByKey: column-level SET with a narrow source (CDC-apply shape)") {
    val path = tmp
    TxLogTable.append(spark,
      Seq((1L, "a", 100L), (2L, "b", 200L), (3L, "c", 300L))
        .toDF("id", "v", "x"), path) // v0
    // narrow adjustments frame: keys + delta column only
    val adj = Seq((1L, 5L), (2L, 0L), (9L, 7L)).toDF("id", "adj")
    val v = TxLogTable.mergeByKey(spark, path, adj, Seq("id"),
      whenMatchedUpdateIf = Some("s.adj <> 0"),
      insertUnmatched = false,
      whenMatchedSet = Some(Map(
        "x" -> "t.x + s.adj",
        "v" -> "concat(t.v, '+')")))
    assert(v == 1)
    assert(TxLogTable.read(spark, path).as[(Long, String, Long)]
      .collect().toSet == Set(
        (1L, "a+", 105L),  // matched, adj<>0: both SET columns fire
        (2L, "b", 200L),   // matched but updateIf false: carries whole
        (3L, "c", 300L))) // unmatched target row carries
    // unmatched SOURCE row (id 9) must NOT insert with insertUnmatched=false
    assert(TxLogTable.read(spark, path).count() == 3)
    // SET result casts to the column's current type (no schema drift)
    assert(TxLogTable.read(spark, path).schema("x").dataType ==
      org.apache.spark.sql.types.LongType)
    // guards: reassigning a key or an unknown column rejects up front
    intercept[IllegalArgumentException] {
      TxLogTable.mergeByKey(spark, path, adj, Seq("id"),
        insertUnmatched = false,
        whenMatchedSet = Some(Map("id" -> "s.adj")))
    }
    intercept[IllegalArgumentException] {
      TxLogTable.mergeByKey(spark, path, adj, Seq("id"),
        insertUnmatched = false,
        whenMatchedSet = Some(Map("nope" -> "s.adj")))
    }
    // whole-row paths still demand matching schemas for a narrow source
    intercept[IllegalArgumentException] {
      TxLogTable.mergeByKey(spark, path, adj, Seq("id"))
    }
  }

  test("updateWhere: change feed carries old image as delete, new image as insert") {
    val path = tmp
    TxLogTable.append(spark,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "x"), path) // v0
    TxLogTable.updateWhere(spark, path,
      Map("x" -> (col("x") + 5L)), col("id") === 2L)              // v1
    val feed = TxLogTable.changesBetween(spark, path, 0L, 1L)
      .select(col("id"), col("x"), col("_change_type"))
      .as[(Long, Long, String)].collect().toSet
    assert(feed == Set((2L, 20L, "delete"), (2L, 25L, "insert")),
      s"update must diff to old-image delete + new-image insert: $feed")
    // downstream consumers see it without special casing: an
    // incremental view rides the update commit like any other delta
    val view = tmp + "-v"
    IncrementalView.maintain(spark, path, view, Seq("id"), Seq("x"))
    TxLogTable.updateWhere(spark, path,
      Map("x" -> (col("x") * 10L)), col("id") === 1L)             // v2
    IncrementalView.maintain(spark, path, view, Seq("id"), Seq("x"))
    val got = TxLogTable.read(spark, view)
      .select(col("id"), col("sum_x")).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 100L, 2L -> 25L, 3L -> 30L),
      s"view must track through the update commit: $got")
  }

  test("updateWhere: CHECK constraint violations abort with nothing published") {
    val path = tmp
    TxLogTable.append(spark,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "x"), path)
    TxLogTable.addCheckConstraint(spark, path, "x_pos", "x > 0")
    val before = TxLogTable.currentVersion(path)
    intercept[IllegalStateException] {
      TxLogTable.updateWhere(spark, path,
        Map("x" -> lit(-5L)), col("id") === 1L)
    }
    assert(TxLogTable.currentVersion(path) == before,
      "violating update must not commit")
    assert(TxLogTable.read(spark, path).as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L)), "data unchanged after abort")
    // a conforming update still passes the gate
    TxLogTable.updateWhere(spark, path,
      Map("x" -> (col("x") * 2)), col("id") === 1L)
    assert(TxLogTable.read(spark, path).filter(col("id") === 1L)
      .select("x").as[Long].head() == 20L)
  }

  test("updateWhere: hive-partitioned — rewrites stay in layout, partition moves work") {
    val path = tmp
    TxLogTable.append(spark,
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
        .toDF("id", "grp", "amount"), path, partitionBy = Seq("grp"))
    // non-partition update inside one partition: grp=b files carry
    val at0 = TxLogTable.filesAt(path, 0L)
    val bFiles = at0.filter(_.contains("grp=b"))
    TxLogTable.updateWhere(spark, path,
      Map("amount" -> (col("amount") + 10)), col("grp") === "a")        // v1
    val at1 = TxLogTable.filesAt(path, 1L)
    assert(bFiles.forall(at1.contains),
      s"unmatched partition must carry by reference: $at1")
    assert(at1.forall(f => f.contains("grp=a") || f.contains("grp=b")),
      s"rewrites must stay in the hive layout: $at1")
    // partition-column update MOVES the row to its new partition dir
    TxLogTable.updateWhere(spark, path,
      Map("grp" -> lit("c")), col("id") === 2L)                         // v2
    assert(TxLogTable.read(spark, path).select("id", "grp", "amount")
      .as[(Long, String, Double)].collect().toSet ==
      Set((1L, "a", 11.0), (2L, "c", 2.0), (3L, "a", 13.0)))
    val (kept, _) = TxLogTable.prunedFiles(spark, path, col("grp") === "c")
    assert(kept.nonEmpty && kept.forall(_.contains("grp=c")),
      s"moved row must land in its new partition dir: $kept")
  }

  test("shallowClone: hive-partitioned source keeps layout and partition pruning") {
    val src = tmp
    TxLogTable.append(spark,
      Seq((1L, "x", 1.0), (2L, "y", 2.0), (3L, "x", 3.0))
        .toDF("id", "grp", "amount"),
      src, partitionBy = Seq("grp"))
    val dest = tmp + "-pclone"
    TxLogTable.shallowClone(spark, src, dest)
    assert(TxLogTable.read(spark, dest).select("id", "grp")
      .as[(Long, String)].collect().toSet
      == Set((1L, "x"), (2L, "y"), (3L, "x")))
    val (kept, skipped) = TxLogTable.prunedFiles(spark, dest, col("grp") === "x")
    assert(kept.nonEmpty && kept.forall(_.contains("grp=x")) &&
      skipped.forall(!_.contains("grp=x")),
      s"clone must partition-prune: kept=$kept skipped=$skipped")
  }

  test("overlapping stages on one session leave its timestamp conf as it was") {
    // A enters the stage scope, then B; A leaves first, B last. A
    // per-stage save/restore leaks here: B saved A's TIMESTAMP_MICROS
    // and restores it after A already unset the key.
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.getOption(key)
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    StageLatches.reset()
    def frame(await: () => Unit) = spark.range(1, 2, 1, 1)
      .select(udf { (i: Long) => await(); i }.asNondeterministic()(col("id")).as("id"))
    val a = frame(() => { StageLatches.aWriting.countDown(); StageLatches.bWriting.await(60, TimeUnit.SECONDS) })
    val b = frame(() => { StageLatches.bWriting.countDown(); StageLatches.aDone.await(60, TimeUnit.SECONDS) })
    val pa = tmp
    val pb = tmp
    val ta = new Thread(() => { TxLogTable.append(spark, a, pa); StageLatches.aDone.countDown() })
    ta.start()
    assert(StageLatches.aWriting.await(60, TimeUnit.SECONDS))
    val tb = new Thread(() => TxLogTable.append(spark, b, pb))
    tb.start()
    ta.join(120000)
    tb.join(120000)
    assert(StageLatches.aDone.getCount == 0, "A's append did not finish")
    val left = spark.conf.getOption(key)
    spark.conf.unset(key)
    assert(left == before, s"the session kept $key = $left, not $before")
    assert(TxLogTable.read(spark, pa).count() == 1 && TxLogTable.read(spark, pb).count() == 1)
  }

  test("changesBetween: the one-aggregate feed is the two-EXCEPT-ALL multiset") {
    import org.apache.spark.sql.types._
    val path = tmp
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType),
      StructField("d", DoubleType)))
    def frame(rows: Seq[(java.lang.Long, String, java.lang.Double)]) =
      spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (a, b, c) => org.apache.spark.sql.Row(a, b, c) }, 2), schema)
    val nan = java.lang.Double.NaN
    // v0 → v1: duplicates on both sides with different multiplicities,
    // NULLs in every column, NaN, and −0.0 against 0.0
    TxLogTable.append(spark, frame(Seq(
      (1L, "a", 1.0), (1L, "a", 1.0), (1L, "a", 1.0), (2L, "b", 2.0),
      (3L, null, null), (3L, null, null), (null, "n", nan), (4L, "z", 0.0),
      (5L, "e", nan))), path)
    TxLogTable.overwrite(spark, frame(Seq(
      (1L, "a", 1.0), (2L, "b", 2.0), (2L, "b", 2.0), (3L, null, null),
      (null, "n", nan), (null, "n", nan), (4L, "z", -0.0), (6L, "f", -0.0))), path)
    // v1 → v2: the new side widens, so the old side reads `x` as null
    TxLogTable.overwrite(spark, frame(Seq((1L, "a", 1.0), (7L, "g", 7.0)))
      .withColumn("x", when(col("id") === 7L, lit(70)).otherwise(lit(null).cast("int"))), path)
    def exceptAllFeed(from: Long, to: Long) = {
      val (o, n) = (TxLogTable.readVersion(spark, path, from), TxLogTable.readVersion(spark, path, to))
      val cols = (n.columns ++ o.columns.diff(n.columns)).toSeq
      def aligned(df: org.apache.spark.sql.DataFrame) = df.select(cols.map(c =>
        if (df.columns.contains(c)) col(c) else lit(null).cast(n.schema(c).dataType).as(c)): _*)
      aligned(n).exceptAll(aligned(o)).withColumn("_change_type", lit("insert"))
        .unionByName(aligned(o).exceptAll(aligned(n)).withColumn("_change_type", lit("delete")))
    }
    for ((from, to) <- Seq((0L, 1L), (1L, 2L), (0L, 2L))) {
      val feed = TxLogTable.changesBetween(spark, path, from, to)
      val want = exceptAllFeed(from, to)
      assert(feed.columns.toSeq == want.columns.toSeq, s"[$from, $to] columns")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(rows(feed) == rows(want), s"[$from, $to]")
      def byType(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("_change_type").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byType(feed) == byType(want), s"[$from, $to] _change_type counts")
    }
    assert(TxLogTable.changesBetween(spark, path, 1L, 2L).columns.toSeq ==
      Seq("id", "s", "d", "x", "_change_type"))
    // v0 → v1 by hand: 2 extra (1,a,1.0) and (3,null,null) and the
    // (5,e,NaN) go; one (2,b,2.0), one (null,n,NaN) and (6,f,0.0) arrive;
    // (4,z,0.0) and (4,z,-0.0) are one row image
    val counts = TxLogTable.changesBetween(spark, path, 0L, 1L)
      .groupBy("_change_type").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("delete" -> 4L, "insert" -> 3L), s"$counts")
  }

  test("mergeByKey: duplicate keys are rejected before anything is staged") {
    val path = tmp
    TxLogTable.append(spark, Seq((1L, "a", "x"), (2L, "b", "y")).toDF("k", "k2", "v"), path)
    def stageDirs = new java.io.File(path).list().filter(_.startsWith("data-merge-")).toSet
    val msg = "updates carry duplicate keys on"
    Seq(
      Seq("k") -> Seq[(java.lang.Long, String, String)]((1L, "a", "p"), (1L, "b", "q")),
      Seq("k") -> Seq[(java.lang.Long, String, String)]((null, "a", "p"), (null, "b", "q")),
      Seq("k", "k2") -> Seq[(java.lang.Long, String, String)]((1L, "a", "p"), (3L, "c", "r"), (1L, "a", "q")))
      .foreach { case (keys, rows) =>
        val e = intercept[IllegalArgumentException] {
          TxLogTable.mergeByKey(spark, path, rows.toDF("k", "k2", "v"), keys)
        }
        assert(e.getMessage.contains(s"$msg (${keys.mkString(", ")})"), e.getMessage)
        assert(TxLogTable.currentVersion(path) == 0L && stageDirs.isEmpty, s"$keys staged")
      }
    // a two-column key is duplicated only when both columns repeat
    TxLogTable.mergeByKey(spark, path,
      Seq((1L, "a", "p"), (1L, "b", "q")).toDF("k", "k2", "v"), Seq("k", "k2"))
    assert(TxLogTable.read(spark, path).as[(Long, String, String)].collect().toSet ==
      Set((1L, "a", "p"), (1L, "b", "q"), (2L, "b", "y")))
  }

  test("mergeByKey: checkDuplicateKeys = false runs no distinct count") {
    val path = tmp
    TxLogTable.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.analyzed.toString.toLowerCase)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    def distinctCounts(check: Boolean): Int = {
      plans.clear()
      spark.listenerManager.register(listener)
      try TxLogTable.mergeByKey(spark, path, Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k"),
        checkDuplicateKeys = check)
      finally {
        org.apache.spark.sql.graftshim.GraftSqlShim.drainListenerBus(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
      plans.toArray.count(_.toString.contains("count(distinct"))
    }
    assert(distinctCounts(check = true) == 1)
    assert(distinctCounts(check = false) == 0)
    assert(TxLogTable.read(spark, path).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("mergeByKey: a rewrite that deletes every touched row commits the removal, no data file") {
    val path = tmp
    TxLogTable.append(spark, (1L to 3L).map(i => (i, s"v$i")).toDF("k", "v").repartition(1), path)
    TxLogTable.append(spark, (4L to 6L).map(i => (i, s"v$i")).toDF("k", "v").repartition(1), path)
    val before = TxLogTable.snapshotFiles(path, 1L)
    val v = TxLogTable.mergeByKey(spark, path, (1L to 3L).map(i => (i, "gone")).toDF("k", "v"),
      Seq("k"), whenMatchedDeleteIf = Some("true"), insertUnmatched = false)
    assert(v == 2L)
    val after = TxLogTable.snapshotFiles(path, v)
    assert(after.size == 1 && before.contains(after.head), s"before=$before after=$after")
    assert(!new java.io.File(path).list().exists(_.startsWith("data-merge-")),
      "the empty rewrite left its stage dir")
    assert(TxLogTable.read(spark, path).select("k").as[Long].collect().sorted.toSeq == Seq(4L, 5L, 6L))
    // the same for a copy-on-write delete of a whole file
    val vd = TxLogTable.deleteWhere(spark, path, col("k") >= 4L)
    assert(TxLogTable.snapshotFiles(path, vd).isEmpty)
    assert(!new java.io.File(path).list().exists(_.startsWith("data-delete-")))
  }

  test("footer stats: _stats.json of a fixed table is byte-identical to the pinned document") {
    // the document the per-file-Configuration harvest wrote for this table,
    // with the staged file names replaced by file0, file1 in name order
    val path = tmp
    val df = (1 to 40).map { i =>
      (i.toLong, i * 0.5, f"s$i%02d", java.sql.Date.valueOf(f"2024-01-${i % 28 + 1}%02d"),
        java.sql.Timestamp.from(java.time.Instant.parse(f"2024-02-01T${i % 24}%02d:00:00Z")),
        BigDecimal(i) / 4, if (i % 3 == 0) null else s"n$i")
    }.toDF("id", "x", "s", "d", "ts", "dec", "n").repartitionByRange(2, col("id"))
    TxLogTable.append(spark, df, path)
    val files = TxLogTable.snapshotFiles(path, 0).sorted
    val dir = files.head.takeWhile(_ != '/')
    val text = new String(Files.readAllBytes(
      java.nio.file.Paths.get(path, dir, "_stats.json")), "UTF-8")
    val pinned = files.map(_.drop(dir.length + 1)).zipWithIndex
      .foldLeft(text) { case (t, (f, i)) => t.replace(f, s"file$i") }
    // the files' order in the document is their staging order
    val file0 = """"file0":{"id":{"min":1,"max":20},"x":{"min":0.5,"max":10.0},"s":{"min":"s01","max":"s20"},"d":{"min":19724,"max":19743},"ts":{"min":1706749200000000,"max":1706817600000000},"dec":{"min":0.250000000000000000,"max":5.000000000000000000},"n":{"min":"n1","max":"n8"}}"""
    val file1 = """"file1":{"id":{"min":21,"max":40},"x":{"min":10.5,"max":20.0},"s":{"min":"s21","max":"s40"},"d":{"min":19723,"max":19750},"ts":{"min":1706745600000000,"max":1706828400000000},"dec":{"min":5.250000000000000000,"max":10.000000000000000000},"n":{"min":"n22","max":"n40"}}"""
    assert(Seq(s"$file0,$file1", s"$file1,$file0").map(fs => s"""{"files":{$fs}}""")
      .contains(pinned), pinned)
  }
}

/** Latches the stage-scope test's UDFs wait on (executor tasks run in
  * this JVM under the local master, so they see the same objects). */
object StageLatches {
  @volatile var aWriting, bWriting, aDone = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = {
    aWriting = new java.util.concurrent.CountDownLatch(1)
    bWriting = new java.util.concurrent.CountDownLatch(1)
    aDone = new java.util.concurrent.CountDownLatch(1)
  }
}
