package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Metadata-only CONVERT of an existing plain-parquet lake into a
  * graftlog table — the graft spelling of Delta's `CONVERT TO DELTA`:
  * one v0 commit references every file IN PLACE (zero data bytes
  * moved), with footer-harvested stats and hive partition recovery,
  * so a 100 TB lake onboards to the ACID surface without the full
  * read-rewrite append that was previously the only path. */
class ConvertSpec extends SparkSpec {
  import spark.implicits._

  // a path that does NOT yet exist: the raw parquet writes create it
  private def tmp =
    Files.createTempDirectory("graft-convert").toString + "/t"

  private def mtimes(path: String): Map[String, Long] = {
    val root = new java.io.File(path)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(root).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.lastModified()).toMap
  }

  test("flat layout: v0 references the files in place, byte-identical; reads match the raw scan") {
    val path = tmp
    val df = (1L to 100L).map(i => (i, i * 2.0, s"s$i")).toDF("id", "x", "s")
    df.repartition(4).write.parquet(path)
    val raw = spark.read.parquet(path).collect().sortBy(_.getLong(0))
    val before = mtimes(path)
    val v = TxLogTable.convert(spark, path)
    assert(v == 0L)
    // zero data bytes moved: same files, untouched
    assert(mtimes(path) == before, "convert must not rewrite any data file")
    val files = TxLogTable.filesAt(path, 0)
    assert(files.size == 4 && files.forall(!_.contains("/")),
      s"v0 must list the in-place root files, got $files")
    val got = TxLogTable.read(spark, path).collect().sortBy(_.getLong(0))
    assert(got.toSeq == raw.toSeq)
    assert(TxLogTable.historyDf(spark, path).select("operation")
      .head().getString(0) == "convert")
  }

  test("hive-partitioned layout: partition columns recover from the in-place k=v dirs") {
    val path = tmp
    val df = (1L to 90L).map(i => (i, i * 1.5, (i % 3).toString))
      .toDF("id", "x", "bucket")
    df.repartition(2).write.partitionBy("bucket").parquet(path)
    val raw = spark.read.parquet(path)
      .select("id", "x", "bucket").collect().sortBy(_.getLong(0))
    val v = TxLogTable.convert(spark, path, partitionBy = Seq("bucket"))
    assert(v == 0L)
    val files = TxLogTable.filesAt(path, 0)
    assert(files.forall(_.startsWith("bucket=")), files.take(3))
    val head = TxLogTable.read(spark, path)
    assert(head.columns.toSet == Set("id", "x", "bucket"))
    assert(head.select("id", "x", "bucket").collect()
      .sortBy(_.getLong(0)).toSeq == raw.toSeq)
    // a declared layout that contradicts the files refuses
    val p2 = tmp
    df.write.partitionBy("bucket").parquet(p2)
    val e = intercept[IllegalArgumentException](
      TxLogTable.convert(spark, p2, partitionBy = Seq("nope")))
    assert(e.getMessage.contains("layout"), e.getMessage)
  }

  test("footer-harvested stats: skipping engages on converted files immediately") {
    val path = tmp
    // 4 non-overlapping ranges, one file each
    (0 until 4).foreach { b =>
      (b * 100 + 1 to b * 100 + 100).map(i => (i.toLong, i * 1.0))
        .toDF("id", "x").coalesce(1)
        .write.mode("append").parquet(path)
    }
    TxLogTable.convert(spark, path)
    val (kept, skipped) =
      TxLogTable.prunedFiles(spark, path, col("id") === 150L)
    assert(kept.size == 1 && skipped.size == 3,
      s"converted stats must prune: kept=$kept skipped=$skipped")
    assert(TxLogTable.readWhere(spark, path, col("id") === 150L)
      .count() == 1)
  }

  test("file names with a quote, a backslash and a non-ASCII character convert, read and round-trip") {
    val path = tmp
    val names = Seq("q\"uote.parquet", "back\\slash.parquet", "caf\u00e9.parquet")
    names.zipWithIndex.foreach { case (name, b) =>
      (b * 10 + 1 to b * 10 + 10).map(i => (i.toLong, s"s$i")).toDF("id", "s")
        .coalesce(1).write.mode("append").parquet(path)
      val part = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("part-")).head
      Files.move(part.toPath, part.toPath.resolveSibling(name))
    }
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").as[Long].collect().toSeq.sorted
    assert(TxLogTable.convert(spark, path) == 0L)
    assert(TxLogTable.snapshotFiles(path, 0).sorted == names.sorted)
    assert(ids(TxLogTable.read(spark, path)) == (1L to 30L))
    // the delete rewrites every one of the three files
    assert(TxLogTable.deleteWhere(spark, path, col("id") % 10 === 5L) == 1L)
    assert(ids(TxLogTable.read(spark, path)) == (1L to 30L).filterNot(_ % 10 == 5))
    assert(ids(TxLogTable.readVersion(spark, path, 0)) == (1L to 30L))
  }

  test("deletion-vector delete, update and merge run on file names that need URI escaping") {
    val path = tmp
    val names = Seq("q\"uote.parquet", "back\\slash.parquet", "caf\u00e9.parquet")
    names.zipWithIndex.foreach { case (name, b) =>
      (b * 10 + 1 to b * 10 + 10).map(i => (i.toLong, s"s$i")).toDF("id", "s")
        .coalesce(1).write.mode("append").parquet(path)
      val part = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("part-")).head
      Files.move(part.toPath, part.toPath.resolveSibling(name))
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.select("id", "s").as[(Long, String)].collect().toSeq.sorted
    val v0 = (1L to 30L).map(i => (i, s"s$i"))
    assert(TxLogTable.convert(spark, path) == 0L)
    // one masked row in every file, then a second mask on top of the first
    assert(TxLogTable.deleteWhereDv(spark, path, col("id") % 10 === 5L) == 1L)
    assert(TxLogTable.deleteWhereDv(spark, path, col("id") % 10 === 6L) == 2L)
    val v2 = v0.filterNot(r => Set(5L, 6L)(r._1 % 10))
    assert(rows(TxLogTable.read(spark, path)) == v2)
    assert(TxLogTable.updateWhereDv(spark, path, Map("s" -> lit("u")),
      col("id") % 10 === 7L) == 3L)
    val v3 = v2.map { case (i, s) => (i, if (i % 10 == 7) "u" else s) }
    assert(rows(TxLogTable.read(spark, path)) == v3)
    val updates = Seq((3L, "m"), (13L, "m"), (23L, "m"), (99L, "new")).toDF("id", "s")
    assert(TxLogTable.mergeByKey(spark, path, updates, Seq("id"), useDv = true) == 4L)
    val v4 = v3.map { case (i, s) => (i, if (i % 10 == 3) "m" else s) } :+ ((99L, "new"))
    assert(rows(TxLogTable.read(spark, path)) == v4.sorted)
    assert(rows(TxLogTable.readVersion(spark, path, 0)) == v0)
    assert(rows(TxLogTable.readVersion(spark, path, 2)) == v2)
  }

  test("second convert refuses; convert of an ordinary graft table refuses") {
    val path = tmp
    (1L to 10L).map(i => (i, i)).toDF("a", "b").write.parquet(path)
    TxLogTable.convert(spark, path)
    val e = intercept[IllegalArgumentException](
      TxLogTable.convert(spark, path))
    assert(e.getMessage.contains("already a graftlog table"), e.getMessage)
    val p2 = tmp
    TxLogTable.append(spark, (1L to 5L).map(i => (i, i)).toDF("a", "b"), p2)
    intercept[IllegalArgumentException](TxLogTable.convert(spark, p2))
  }

  test("full ACID lifecycle from v0: append, DML, time travel, optimize; originals never vacuumed") {
    val path = tmp
    (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(2).write.parquet(path)
    TxLogTable.convert(spark, path)
    val originals = TxLogTable.filesAt(path, 0)
    // append coexists (stage dirs beside the in-place files)
    TxLogTable.append(spark,
      (51L to 60L).map(i => (i, s"v$i")).toDF("id", "v"), path)
    assert(TxLogTable.read(spark, path).count() == 60)
    // copy-on-write DML rewrites only touched files
    TxLogTable.deleteWhere(spark, path, col("id") === 10L)
    assert(TxLogTable.read(spark, path).count() == 59)
    // time travel below the DML serves the converted snapshot
    assert(TxLogTable.readVersion(spark, path, 0).count() == 50)
    // compaction rebases the listing off the originals...
    TxLogTable.compact(spark, path)
    assert(TxLogTable.read(spark, path).count() == 59)
    // ...but no vacuum ever reaps the converted originals (they may
    // still serve external plain-parquet readers of the source lake)
    TxLogTable.vacuum(path, graceMs = 0L)
    TxLogTable.vacuumCompacted(path, TxLogTable.currentVersion(path))
    val onDisk = mtimes(path).keySet
    originals.foreach { f =>
      assert(onDisk.exists(_.endsWith(f.split('/').last)),
        s"converted original $f must survive vacuum")
    }
    // and the raw parquet dir still reads for non-graft consumers
    assert(spark.read.parquet(path).count() >= 50)
  }

  test("SQL catalog form: CONVERT TO GRAFTLOG db.tbl re-points the provider; reads and DML by name go ACID") {
    spark.sql("DROP TABLE IF EXISTS conv_ct")
    // a prior failed run may have orphaned the managed location
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), "conv_ct")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(); ()
    }
    if (wh.exists()) wipe(wh)
    (1L to 40L).map(i => (i, (i % 4).toString)).toDF("id", "q")
      .write.partitionBy("q").format("parquet").saveAsTable("conv_ct")
    assert(spark.table("conv_ct").count() == 40)
    val v = spark.sql("CONVERT TO GRAFTLOG conv_ct").head().getLong(0)
    assert(v == 0L)
    val ct = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("conv_ct"))
    assert(ct.provider.exists(_.equalsIgnoreCase("graftlog")))
    val path = ct.storage.properties("path")
    assert(TxLogTable.filesAt(path, 0).nonEmpty)
    // reads and the operational surface resolve by NAME now
    assert(spark.table("conv_ct").count() == 40)
    assert(spark.sql("DESCRIBE HISTORY conv_ct")
      .select("operation").head().getString(0) == "convert")
    spark.sql("DELETE FROM conv_ct WHERE id <= 4")
    assert(spark.table("conv_ct").count() == 36)
    assert(TxLogTable.readVersion(spark, path, 0).count() == 40)
    // a second convert refuses (already a graftlog table)
    intercept[Exception](spark.sql("CONVERT TO GRAFTLOG conv_ct"))
    spark.sql("DROP TABLE conv_ct")
  }

  test("SQL: CONVERT TO GRAFTLOG parquet.`path` [PARTITIONED BY] returns v0") {
    val path = tmp
    (1L to 30L).map(i => (i, (i % 2).toString)).toDF("id", "half")
      .write.partitionBy("half").parquet(path)
    val v = spark.sql(
      s"CONVERT TO GRAFTLOG parquet.`$path` PARTITIONED BY (half)")
      .head().getLong(0)
    assert(v == 0L)
    assert(spark.read.format("graftlog").load(path).count() == 30)
    // SQL DML runs straight away on the converted table
    spark.read.format("graftlog").load(path)
      .createOrReplaceTempView("conv_v")
    spark.sql("DELETE FROM conv_v WHERE id = 1")
    assert(TxLogTable.read(spark, path).count() == 29)
    spark.catalog.dropTempView("conv_v")
  }
}
