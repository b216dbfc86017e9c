package graft.operators

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlShim
import java.nio.file.Files

/** Job ratchet for the table layer: one of each DML and snapshot-read
  * entry point on a small table that carries deletion vectors, with
  * every Spark job it submits counted. A count may go down, never up.
  * Every job must run inside a SQL execution: a job without one is a
  * bare `sparkContext` job, which is what a parquet schema inference
  * (`spark.read.parquet` without a schema) submits. */
class TxLogJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** The jobs `body` submits: (total, outside any SQL execution). */
  private def jobsOf(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val total = new java.util.concurrent.atomic.AtomicInteger
    val bare = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.op") == tag)) {
          total.incrementAndGet()
          if (e.properties.getProperty("spark.sql.execution.id") == null)
            bare.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.op", tag)
    try body
    finally {
      sc.setLocalProperty("graft.test.op", null)
      GraftSqlShim.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    (total.get, bare.get)
  }

  private def rows(lo: Int, hi: Int) = (lo until hi).map(i =>
    (i.toLong, (i % 7).toLong, if (i % 2 == 0) "O" else "F", i * 1.5))
    .toDF("k", "c", "s", "p")

  /** Pinned job counts per op, AQE's stage and broadcast jobs
    * included. */
  private val budget = Seq(
    "append" -> 1, "mergeByKey" -> 11, "updateWhere" -> 5,
    "deleteWhereDv" -> 5, "sql DELETE" -> 3, "sql UPDATE" -> 3,
    "sql MERGE" -> 10, "readWhere" -> 2, "readVersion" -> 3,
    "changesBetween" -> 5)

  test("DML and snapshot reads stay within their job budget and infer no schema") {
    val path = Files.createTempDirectory("graft-jobbudget").toString
    TxLogTable.append(spark, rows(0, 800).repartitionByRange(4, col("k")), path)
    TxLogTable.deleteWhereDv(spark, path, col("k") % 50 === 3)
    val v1 = TxLogTable.currentVersion(path)
    val view = "t_jobbudget"
    def sqlView(): Unit =
      spark.read.format("graftlog").load(path).createOrReplaceTempView(view)
    val src = "t_jobbudget_src"
    val measured = Seq[(String, () => Unit)](
      "append" -> (() => TxLogTable.append(spark, rows(800, 850).coalesce(1), path)),
      "mergeByKey" -> (() => TxLogTable.mergeByKey(spark, path,
        rows(190, 210).union(rows(900, 910)), Seq("k"))),
      "updateWhere" -> (() => TxLogTable.updateWhere(spark, path,
        Map("p" -> (col("p") + 1.0)), col("k") >= 400 && col("k") < 420)),
      "deleteWhereDv" -> (() => TxLogTable.deleteWhereDv(spark, path,
        col("k") >= 600 && col("k") < 610)),
      "sql DELETE" -> { () => sqlView()
        spark.sql(s"DELETE FROM $view WHERE k >= 100 AND k < 110") },
      "sql UPDATE" -> { () => sqlView()
        spark.sql(s"UPDATE $view SET p = p + 2.5D WHERE k >= 300 AND k < 305") },
      "sql MERGE" -> { () => sqlView()
        rows(500, 510).union(rows(920, 925)).createOrReplaceTempView(src)
        spark.sql(s"MERGE INTO $view t USING $src s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *") },
      "readWhere" -> (() => TxLogTable.readWhere(spark, path,
        col("k") >= 200 && col("k") < 260).count()),
      "readVersion" -> (() => TxLogTable.readVersion(spark, path, v1).count()),
      "changesBetween" -> (() => TxLogTable.changesBetween(spark, path, v1,
        TxLogTable.currentVersion(path)).groupBy("_change_type").count().collect()))
    val counts = measured.map { case (name, op) => name -> jobsOf(op()) }
    val report = counts.map { case (n, (t, b)) => s"$n=$t($b bare)" }.mkString(", ")
    counts.foreach { case (name, (_, bare)) =>
      assert(bare == 0, s"$name ran $bare job(s) outside a SQL execution: $report")
    }
    budget.foreach { case (name, max) =>
      val got = counts.toMap.apply(name)._1
      assert(got <= max, s"$name ran $got jobs, budget $max: $report")
    }
    // the ops above did what they say
    val want = ((0 until 850).filterNot(k => k < 800 && k % 50 == 3) ++
      (190 until 210) ++ (900 until 910) ++ (500 until 510) ++ (920 until 925))
      .toSet -- (600 until 610) -- (100 until 110)
    val live = TxLogTable.read(spark, path).count()
    assert(live == want.size, s"$live live rows, want ${want.size} ($report)")
  }
}
