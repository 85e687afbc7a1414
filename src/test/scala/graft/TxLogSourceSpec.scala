package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{LogAction, TxLog}
import graft.sources.TxLogSourceIO

/** The `format("txlog")` connector behaviors the oracle gate (q408)
  * cannot see: plan-time file pruning counters, version/timestamp
  * option resolution, the DV fallback path, and SQL reachability. */
class TxLogSourceSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def freshTable(): String = {
    val t = java.nio.file.Files.createTempDirectory("txsrc_").toString
    TxLog.drop(t)
    t
  }

  test("format(\"txlog\") resolves by short name and reads the same " +
      "rows as the Scala API, native parquet scan underneath") {
    val t = freshTable()
    TxLog.create((0L until 100L).map(i => (i, i % 5)).toDF("id", "grp"), t)
    TxLog.append((100L until 120L).map(i => (i, 9L)).toDF("id", "grp"), t)
    val df = spark.read.format("txlog").load(t)
    assert(df.count() == 120L)
    assert(df.agg(sum("id")).head().getLong(0) ==
      TxLog.read(spark, t).agg(sum("id")).head().getLong(0))
    // the DV-free path is a real FileScan, not a row-relation wrap
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet"), s"expected a native scan:\n$plan")
    TxLog.drop(t)
  }

  test("versionAsOf and timestampAsOf options time-travel") {
    val t = freshTable()
    TxLog.create(Seq((1L, "a")).toDF("id", "v"), t) // v0
    TxLog.append(Seq((2L, "b")).toDF("id", "v"), t) // v1
    TxLog.setCommitInstant(t, 0, 1000L)
    TxLog.setCommitInstant(t, 1, 2000L)
    assert(spark.read.format("txlog").option("versionAsOf", "0")
      .load(t).count() == 1L)
    assert(spark.read.format("txlog").option("timestampAsOf", "1500")
      .load(t).count() == 1L)
    assert(spark.read.format("txlog").load(t).count() == 2L)
    intercept[IllegalArgumentException] {
      spark.read.format("txlog").option("versionAsOf", "0")
        .option("timestampAsOf", "1500").load(t)
    }
    TxLog.drop(t)
  }

  test("log-resident zone maps prune files at PLAN time through the " +
      "connector — counter ground truth plus correct results") {
    val t = freshTable()
    val rows = spark.range(400L).select(col("id"), (col("id") * 7).as("x"))
    (0 to 3).foreach { i =>
      TxLog.appendWithStats(spark,
        rows.filter(col("id") >= i * 100 && col("id") < (i + 1) * 100)
          .coalesce(1), t, Seq("id"))
    }
    val df = spark.read.format("txlog").load(t)
      .filter(col("id") >= 250 && col("id") < 320)
    val n = df.count()
    assert(n == 70L)
    assert(TxLogSourceIO.lastTotal.get() == 4 &&
      TxLogSourceIO.lastKept.get() == 2,
      s"zone maps should keep 2 of 4 files, kept " +
        s"${TxLogSourceIO.lastKept.get()}/${TxLogSourceIO.lastTotal.get()}")
    // unfiltered read keeps everything
    assert(spark.read.format("txlog").load(t).count() == 400L)
    assert(TxLogSourceIO.lastKept.get() == 4)
    TxLog.drop(t)
  }

  test("log-resident partition values prune equality predicates " +
      "through the connector") {
    val t = freshTable()
    val rows = spark.range(90L).select(col("id"),
      concat(lit("g"), (col("id") % 3).cast("string")).as("grp"))
    TxLog.appendPartitioned(spark, rows.coalesce(1), t, Seq("grp"))
    val df = spark.read.format("txlog").load(t)
      .filter(col("grp") === "g1")
    assert(df.count() == 30L)
    assert(TxLogSourceIO.lastTotal.get() == 3 &&
      TxLogSourceIO.lastKept.get() == 1,
      s"partition markers should keep 1 of 3 files, kept " +
        s"${TxLogSourceIO.lastKept.get()}/${TxLogSourceIO.lastTotal.get()}")
    TxLog.drop(t)
  }

  test("a DV-bearing snapshot falls back to the merge-on-read path " +
      "and stays correct; the DV-free version keeps the native scan") {
    val t = freshTable()
    TxLog.create(spark.range(100L).select(col("id"),
      (col("id") % 5).as("grp")), t) // v0
    TxLog.deleteWhereDV(spark, t, col("grp") === 2) // v1: DVs outstanding
    assert(spark.read.format("txlog").load(t).count() == 80L)
    assert(spark.read.format("txlog").option("versionAsOf", "0")
      .load(t).count() == 100L)
    // column pruning through the fallback still returns right values
    assert(spark.read.format("txlog").load(t)
      .select("grp").distinct().count() == 4L)
    TxLog.drop(t)
  }

  test("writer: Append creates then appends; Overwrite is a versioned " +
      "REPLACE (the old state stays time-travelable); ErrorIfExists and " +
      "Ignore honor their contracts") {
    val t = freshTable()
    def w(mode: String) = Seq((1L, mode)).toDF("id", "tag")
      .write.format("txlog").mode(mode)
    w("append").save(t)  // v0 create
    w("append").save(t)  // v1 append
    assert(spark.read.format("txlog").load(t).count() == 2L)
    Seq((9L, "ow")).toDF("id", "tag")
      .write.format("txlog").mode("overwrite").save(t) // v2 replace
    val now = spark.read.format("txlog").load(t)
    assert(now.count() == 1L && now.select("tag").head().getString(0) == "ow")
    // pre-overwrite state still reads (versioned replace, not rewrite)
    assert(spark.read.format("txlog").option("versionAsOf", "1")
      .load(t).count() == 2L)
    intercept[IllegalStateException] {
      w("errorifexists").save(t)
    }
    w("ignore").save(t) // no-op on an existing table
    assert(TxLog.currentVersion(t) == 2)
    TxLog.drop(t)
  }

  test("writer options: partitionBy records partition markers, statsBy " +
      "records zone maps — both prune through the reader") {
    val t = freshTable()
    spark.range(90L).select(col("id"),
        concat(lit("g"), (col("id") % 3).cast("string")).as("grp"))
      .coalesce(1)
      .write.format("txlog").mode("append").option("partitionBy", "grp")
      .save(t)
    assert(spark.read.format("txlog").load(t)
      .filter(col("grp") === "g2").count() == 30L)
    assert(TxLogSourceIO.lastKept.get() == 1 &&
      TxLogSourceIO.lastTotal.get() == 3)
    val t2 = freshTable()
    spark.range(100L).select(col("id"))
      .repartitionByRange(4, col("id"))
      .write.format("txlog").mode("append").option("statsBy", "id").save(t2)
    assert(spark.read.format("txlog").load(t2)
      .filter(col("id") >= 80).count() == 20L)
    assert(TxLogSourceIO.lastKept.get() == 1 &&
      TxLogSourceIO.lastTotal.get() == 4,
      s"kept ${TxLogSourceIO.lastKept.get()}/${TxLogSourceIO.lastTotal.get()}")
    TxLog.drop(t); TxLog.drop(t2)
  }

  test("streaming source tails the commit log: AvailableNow drains " +
      "committed versions, restarts resume from the checkpointed " +
      "version, removes refuse without ignoreChanges") {
    val t = freshTable()
    // coalesce(1): one file per commit so the ignoreChanges re-emit
    // count below is exact (a COW delete rewrites whole files)
    TxLog.create(spark.range(10L).select(col("id")).coalesce(1), t) // v0
    TxLog.append(spark.range(10L, 20L).select(col("id")).coalesce(1), t) // v1
    val ckpt = java.nio.file.Files.createTempDirectory("txsrc_ck_").toString
    def drain(extra: Map[String, String] = Map.empty): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong(0L)
      val src = extra.foldLeft(spark.readStream.format("txlog")) {
        case (r, (k, v)) => r.option(k, v)
      }.load(t)
      val q = src.writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          acc.addAndGet(b.count()): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      acc.get()
    }
    assert(drain() == 20L, "first drain sees both committed versions")
    TxLog.append(spark.range(20L, 25L).select(col("id")).coalesce(1), t) // v2
    assert(drain() == 5L, "restart resumes from the checkpoint — only v2")
    TxLog.deleteWhere(spark, t, col("id") < 3) // v3: removes files
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    assert(ex.getCause.getMessage.contains("append-only"), ex.getCause.getMessage)
    // ignoreChanges processes the rewrite's adds (rows re-emit)
    val ck2 = java.nio.file.Files.createTempDirectory("txsrc_ck2_").toString
    val acc2 = new java.util.concurrent.atomic.AtomicLong(0L)
    val q2 = spark.readStream.format("txlog")
      .option("ignoreChanges", "true").option("startingVersion", "3").load(t)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        acc2.addAndGet(b.count()): Unit
      }
      .option("checkpointLocation", ck2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    // v3 rewrote the one file holding ids<3: its add is that file's
    // SURVIVORS (ids 3..9) re-emitted — Delta's ignoreChanges semantics
    assert(acc2.get() == 7L, s"expected the 7 survivors, got ${acc2.get()}")
    TxLog.drop(t)
  }

  test("streaming sink refuses without an explicit stream identity: a " +
      "session-conf-only checkpoint is invisible to createSink, and a " +
      "shared per-table fallback would drop a second stream as replays") {
    val src = freshTable()
    TxLog.create(spark.range(5L).select(col("id")).coalesce(1), src)
    val confCk = java.nio.file.Files
      .createTempDirectory("txsink_conf_ck_").toString
    spark.conf.set("spark.sql.streaming.checkpointLocation", confCk)
    try {
      val ex = intercept[Exception] {
        val q = spark.readStream.format("txlog").load(src)
          .writeStream.format("txlog") // no option-level checkpoint/appId
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(freshTable())
        q.awaitTermination()
      }
      val msg = Option(ex.getMessage).getOrElse("") +
        Option(ex.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      assert(msg.contains("txnAppId") || msg.contains("stream identity"),
        s"expected the identity refusal, got: $msg")
    } finally spark.conf.unset("spark.sql.streaming.checkpointLocation")
    TxLog.drop(src)
  }

  test("streaming sink: micro-batches commit as log versions, a replayed " +
      "batch id is skipped (exactly-once txn protocol), restarts ship " +
      "only new upstream versions") {
    val src = freshTable()
    val dst = freshTable()
    TxLog.create(spark.range(10L).select(col("id")).coalesce(1), src) // v0
    TxLog.append(spark.range(10L, 20L).select(col("id")).coalesce(1), src)
    val ckpt = java.nio.file.Files.createTempDirectory("txsink_ck_").toString
    def drain(): Unit = {
      val q = spark.readStream.format("txlog").load(src)
        .writeStream.format("txlog")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    drain()
    assert(spark.read.format("txlog").load(dst).count() == 20L)
    // restart with nothing new upstream: no batch runs, no new version
    val vAfterFirst = TxLog.currentVersion(dst)
    drain()
    assert(TxLog.currentVersion(dst) == vAfterFirst,
      "an idle restart must not commit")
    TxLog.append(spark.range(20L, 25L).select(col("id")).coalesce(1), src)
    drain()
    val rows = spark.read.format("txlog").load(dst)
    assert(rows.count() == 25L, "restart ships only the new version")
    assert(rows.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0)
      == (0L until 25L).sum)

    // the exactly-once property at the sink grain: re-delivering an
    // already-committed batch id (what checkpoint recovery does after a
    // crash between the sink commit and the offset-log commit) is a no-op
    val sink = new graft.sources.TxLogSink(dst, appId = ckpt)
    val v = TxLog.currentVersion(dst)
    sink.addBatch(9999L, spark.range(100L, 103L).toDF("id"))
    assert(TxLog.currentVersion(dst) == v + 1, "fresh batch id commits")
    sink.addBatch(9999L, spark.range(200L, 290L).toDF("id"))
    assert(TxLog.currentVersion(dst) == v + 1, "replayed batch id is skipped")
    assert(spark.read.format("txlog").load(dst).count() == 28L)

    // append-only contract: Complete mode is refused at sink creation
    val ck2 = java.nio.file.Files.createTempDirectory("txsink_ck2_").toString
    val ex = intercept[Exception] {
      val q = spark.readStream.format("txlog").load(src)
        .groupBy().count()
        .writeStream.format("txlog")
        .option("checkpointLocation", ck2)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(freshTable())
      q.awaitTermination()
    }
    assert(ex.getMessage.contains("Append output mode only") ||
      Option(ex.getCause).exists(_.getMessage.contains("Append output mode only")),
      s"unexpected: $ex")
    Seq(src, dst).foreach(TxLog.drop)
  }

  test("readChangeFeed option: the row-level change relation with " +
      "startingVersion/endingVersion bounds and column pruning") {
    val t = freshTable()
    TxLog.create((0L until 50L).map(i => (i, i % 5)).toDF("id", "grp")
      .coalesce(1), t)                                       // v0
    TxLog.append((50L until 80L).map(i => (i, 9L)).toDF("id", "grp")
      .coalesce(1), t)                                       // v1
    TxLog.deleteWhereDV(spark, t, col("id") < 10)            // v2
    def cdf(opts: (String, String)*) =
      opts.foldLeft(spark.read.format("txlog")
        .option("readChangeFeed", "true")) {
        case (r, (k, v)) => r.option(k, v)
      }.load(t)
    val all = cdf().groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(all == Map("insert" -> 80L, "delete" -> 10L))
    // bounded range: only v1's insert
    assert(cdf("startingVersion" -> "1", "endingVersion" -> "1")
      .count() == 30L)
    // pruned read: only the meta column — no wide-column materialization
    assert(cdf("startingVersion" -> "2").select("_change_type")
      .collect().forall(_.getString(0) == "delete"))
    TxLog.drop(t)
  }

  test("streaming CDF: readChangeFeed batches are row-level changes, " +
      "deletes flow without ignoreChanges, restarts resume from the " +
      "checkpointed version") {
    val t = freshTable()
    TxLog.create((0L until 30L).map(i => (i, i % 3)).toDF("id", "grp")
      .coalesce(1), t)                            // v0
    TxLog.deleteWhereDV(spark, t, col("id") < 5)  // v1
    val ckpt = java.nio.file.Files.createTempDirectory("txscdf_ck_").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    def drain(): Unit = {
      val q = spark.readStream.format("txlog")
        .option("readChangeFeed", "true").load(t)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          got.synchronized {
            got ++= b.collect().map(r => (r.getString(2), r.getLong(3),
              r.getLong(0)))
          }: Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(got.count(_._1 == "insert") == 30)
    assert(got.count(_._1 == "delete") == 5, "the DV delete flows as rows")
    got.clear()
    // a COW rewrite streams as delete+insert pairs on restart
    TxLog.deleteWhere(spark, t, col("grp") === 1) // v2: rewrites the file
    drain()
    // the file held 25 live rows (5 were DV-dead): 25 deletes; survivors
    // (grp != 1 among ids 5..29) re-insert
    assert(got.count(_._1 == "delete") == 25, s"got ${got.toSeq}")
    assert(got.count(_._1 == "insert") ==
      (5L until 30L).count(_ % 3 != 1))
    assert(got.forall(_._2 == 2L), "all changes carry the commit version")
    TxLog.drop(t)
  }

  test("maxVersionsPerTrigger: a backlog drains as bounded per-version " +
      "batches, restarts stay duplicate-free") {
    val t = freshTable()
    (0 until 3).foreach(i => TxLog.append(
      spark.range(i * 10L, i * 10L + 10L).select(col("id")).coalesce(1), t))
    val ckpt = java.nio.file.Files.createTempDirectory("txrate_ck_").toString
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val rows = new java.util.concurrent.atomic.AtomicLong(0L)
    // a CONTINUOUS trigger: AvailableNow snapshots the source's first
    // (capped!) offset as its drain target and would stop after one
    // batch — the documented pairing for rate limits is a
    // processing-time trigger (see the source scaladoc)
    def drain(expectRows: Long): Unit = {
      val q = spark.readStream.format("txlog")
        .option("maxVersionsPerTrigger", "1").load(t)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val n = b.count()
          if (n > 0) { batches.incrementAndGet(); rows.addAndGet(n) }: Unit
        }
        .option("checkpointLocation", ckpt)
        .start()
      val deadline = System.currentTimeMillis() + 60000L
      while (rows.get() < expectRows &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      q.stop(); q.awaitTermination()
    }
    drain(30L)
    assert(rows.get() == 30L)
    assert(batches.get() == 3,
      s"a 3-version backlog must drain as 3 capped batches, " +
        s"got ${batches.get()}")
    // restart against new commits: capped again, and NOTHING re-emits
    batches.set(0); rows.set(0L)
    (3 until 5).foreach(i => TxLog.append(
      spark.range(i * 10L, i * 10L + 10L).select(col("id")).coalesce(1), t))
    drain(20L)
    assert(rows.get() == 20L, "a restart must not re-emit drained versions")
    assert(batches.get() == 2, s"got ${batches.get()}")
    TxLog.drop(t)
  }

  test("Trigger.AvailableNow + maxVersionsPerTrigger drains the WHOLE " +
      "backlog in capped batches and stops at the start-time snapshot " +
      "(SupportsTriggerAvailableNow closes the r10 DSv1 gap)") {
    val t = freshTable()
    (0 until 4).foreach(i => TxLog.append(
      spark.range(i * 10L, i * 10L + 10L).select(col("id")).coalesce(1), t))
    val ckpt = java.nio.file.Files.createTempDirectory("txan_ck_").toString
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("txlog")
      .option("maxVersionsPerTrigger", "2").load(t)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batchSizes.add(b.count()): Unit
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination() // AvailableNow terminates on its own when drained
    import scala.jdk.CollectionConverters._
    val sizes = batchSizes.asScala.toSeq.filter(_ > 0)
    assert(sizes.sum == 40L, s"full drain expected, got $sizes")
    assert(sizes == Seq(20L, 20L),
      s"4 versions at cap 2 must drain as 2×2-version batches, got $sizes")
    // restart on the same checkpoint with new upstream commits: the
    // engine hands latestOffset the CHECKPOINTED offset — nothing
    // re-emits, the new backlog drains capped again
    (4 until 7).foreach(i => TxLog.append(
      spark.range(i * 10L, i * 10L + 10L).select(col("id")).coalesce(1), t))
    batchSizes.clear()
    val q2 = spark.readStream.format("txlog")
      .option("maxVersionsPerTrigger", "2").load(t)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batchSizes.add(b.count()): Unit
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val sizes2 = batchSizes.asScala.toSeq.filter(_ > 0)
    assert(sizes2.sum == 30L, s"restart must ship only v4..v6, got $sizes2")
    assert(sizes2 == Seq(20L, 10L), s"capped drain on restart, got $sizes2")
    TxLog.drop(t)
  }

  test("readStream.table drives the DSv2 MicroBatchStream: capped " +
      "AvailableNow drain by NAME, duplicate-free restart on the same " +
      "checkpoint, undecided transactions stall the offer") {
    val base = java.nio.file.Files.createTempDirectory("txmbs_").toString
    val t = s"$base/stbl"
    TxLog.create(spark.range(10L).select(col("id")).coalesce(1), t)
    (1 until 4).foreach(i => TxLog.append(
      spark.range(i * 10L, i * 10L + 10L).select(col("id")).coalesce(1), t))
    spark.conf.set("spark.sql.catalog.graft_tlake",
      classOf[graft.sources.TxLogCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_tlake.base", base)
    val ckpt = java.nio.file.Files.createTempDirectory("txmbs_ck_").toString
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def drain(): Seq[Long] = {
      val q = spark.readStream
        .option("maxVersionsPerTrigger", "2")
        .table("graft_tlake.stbl")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batchSizes.add(b.count()): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      val s = batchSizes.asScala.toSeq.filter(_ > 0)
      batchSizes.clear(); s
    }
    val sizes = drain()
    assert(sizes.sum == 40L && sizes == Seq(20L, 20L),
      s"4 versions at cap 2 must drain by NAME as 2×2-version batches, " +
        s"got $sizes")
    // restart on the same checkpoint: the engine hands the DSv2
    // latestOffset the checkpointed offset — nothing re-emits
    (4 until 6).foreach(i => TxLog.append(
      spark.range(i * 10L, i * 10L + 10L).select(col("id")).coalesce(1), t))
    val sizes2 = drain()
    assert(sizes2.sum == 20L, s"restart must ship only v4..v5, got $sizes2")
    // an UNDECIDED multi-table transaction stalls the by-name offer at
    // the same version the path API stalls at (shared TxLogOffsets)
    val staged = TxLog.stageChecked(
      spark.range(100L, 105L).select(col("id")), t)
    val parts = Seq(t -> staged.map(LogAction.Add(_)))
    val (txName, _) = TxLog.claimOnly(s"$base/_txn", parts)
    TxLog.append(spark.range(60L, 70L).select(col("id")).coalesce(1), t)
    val sizes3 = drain()
    assert(sizes3.sum == 0L,
      s"the offer must stall below the undecided version, got $sizes3")
    TxLog.publishTx(s"$base/_txn", txName, parts)
    val sizes4 = drain()
    assert(sizes4.sum == 15L,
      s"publish releases the stalled versions in order, got $sizes4")
    TxLog.drop(base)
  }

  test("writeStream.toTable drives the DSv2 streaming write: one " +
      "idempotent epoch per micro-batch, auto-created table, restart " +
      "ships only new versions, bytes read back exactly") {
    val base = java.nio.file.Files.createTempDirectory("txsw_").toString
    val src = s"$base/src"
    TxLog.create(spark.range(10L)
      .select(col("id"), (col("id") % 3).as("grp"),
        concat(lit("n"), col("id")).as("name")).coalesce(1), src)
    (1 until 3).foreach(i => TxLog.append(spark.range(i * 10L, i * 10L + 10L)
      .select(col("id"), (col("id") % 3).as("grp"),
        concat(lit("n"), col("id")).as("name")).coalesce(1), src))
    spark.conf.set("spark.sql.catalog.graft_wlake",
      classOf[graft.sources.TxLogCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_wlake.base", base)
    val ckpt = java.nio.file.Files.createTempDirectory("txsw_ck_").toString
    def drain(): Unit = {
      val q = spark.readStream.format("txlog")
        .option("maxVersionsPerTrigger", "1").load(src)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("graft_wlake.dst")
      q.awaitTermination()
    }
    drain()
    val dst = s"$base/dst"
    // v0 = auto-CREATE (schema only), then exactly one version per epoch
    assert(TxLog.currentVersion(dst) == 3,
      s"3 capped epochs expected, table at v${TxLog.currentVersion(dst)}")
    assert(spark.sql("SELECT count(*) FROM graft_wlake.dst")
      .head().getLong(0) == 30L)
    // the written bytes ARE the source rows (names and grps intact)
    assert(spark.sql(
      "SELECT count(*) FROM graft_wlake.dst WHERE name = concat('n', id) " +
        "AND grp = id % 3").head().getLong(0) == 30L)
    // restart on the same checkpoint with one new upstream version:
    // nothing re-lands (exactly-once via the (queryId, epochId) txn
    // markers), only the new version ships
    TxLog.append(spark.range(30L, 35L)
      .select(col("id"), (col("id") % 3).as("grp"),
        concat(lit("n"), col("id")).as("name")).coalesce(1), src)
    drain()
    assert(spark.sql("SELECT count(*) FROM graft_wlake.dst")
      .head().getLong(0) == 35L,
      "restart must ship exactly the new version's rows")
    assert(TxLog.currentVersion(dst) == 4)
    TxLog.drop(base)
  }

  test("writeStream.toTable on a PARTITIONED table: executor tasks " +
      "write partition-pure files, epochs commit p: markers, streamed " +
      "files prune like batch ones") {
    val base = java.nio.file.Files.createTempDirectory("txswp_").toString
    val src = s"$base/src"
    TxLog.create(spark.range(20L)
      .select(col("id"), (col("id") % 4).as("grp")).coalesce(1), src)
    spark.conf.set("spark.sql.catalog.graft_plake",
      classOf[graft.sources.TxLogCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_plake.base", base)
    spark.sql("CREATE TABLE graft_plake.pdst (id BIGINT, grp BIGINT) " +
      "USING txlog PARTITIONED BY (grp)")
    val ckpt = java.nio.file.Files.createTempDirectory("txswp_ck_").toString
    val q = spark.readStream.format("txlog").load(src)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("graft_plake.pdst")
    q.awaitTermination()
    val dst = s"$base/pdst"
    val pv = TxLog.partitionValues(dst)
    assert(pv.size >= 4, s"one partition-pure file per grp value, got $pv")
    assert(pv.values.forall(m => m.get("grp").exists(Set("0","1","2","3"))),
      s"markers must carry the cast-to-string grp values, got $pv")
    // each file holds exactly its partition's rows
    assert(spark.sql("SELECT count(*) FROM graft_plake.pdst " +
      "WHERE grp = 2").head().getLong(0) == 5L)
    assert(graft.sources.TxLogSourceIO.lastKept.get()
      < graft.sources.TxLogSourceIO.lastTotal.get(),
      "a streamed partitioned table must prune by partition value")
    spark.sql("DROP TABLE graft_plake.pdst")
    TxLog.drop(base)
  }

  test("streaming CDF BY NAME: readStream.option(readChangeFeed)" +
      ".table resolves through the DSv1 CDF source — meta columns, " +
      "deletes as rows, restart-safe above the checkpoint") {
    val base = java.nio.file.Files.createTempDirectory("txcdfn_").toString
    val t = s"$base/src"
    TxLog.create(spark.range(10L)
      .select(col("id"), (col("id") % 2).as("grp")).coalesce(1), t) // v0
    TxLog.append(spark.range(10L, 16L)
      .select(col("id"), (col("id") % 2).as("grp")).coalesce(1), t) // v1
    TxLog.deleteWhereDV(spark, t, col("id") < 3)                    // v2
    spark.conf.set("spark.sql.catalog.graft_cdfn",
      classOf[graft.sources.TxLogCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cdfn.base", base)
    val ckpt = java.nio.file.Files.createTempDirectory("txcdfn_ck_").toString
    val acc = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long)]
    def drain(): Unit = {
      val q = spark.readStream
        .option("readChangeFeed", "true")
        .table("graft_cdfn.src")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          acc.synchronized {
            acc ++= df.collect().map(r =>
              (r.getAs[String]("_change_type"),
                r.getAs[Long]("_commit_version"), r.getAs[Long]("id")))
          }: Unit
        }.start()
      q.awaitTermination()
    }
    drain()
    assert(acc.count(_._1 == "insert") == 16, s"got $acc")
    assert(acc.filter(_._1 == "delete").map(_._3).sorted == Seq(0L, 1L, 2L))
    // restart: only NEW versions ship
    val before = acc.size
    TxLog.append(spark.range(16L, 18L)
      .select(col("id"), (col("id") % 2).as("grp")).coalesce(1), t) // v3
    drain()
    val fresh = acc.drop(before)
    assert(fresh.forall(e => e._1 == "insert" && e._2 == 3L)
      && fresh.size == 2, s"restart must ship only v3, got $fresh")
    TxLog.drop(base)
  }

  test("streaming CDF honors maxVersionsPerTrigger: capped batches of " +
      "row-level changes, restart resumes above the checkpoint, " +
      "truncated history refuses with the version") {
    val t = freshTable()
    TxLog.create(spark.range(10L).select(col("id")).coalesce(1), t) // v0
    TxLog.append(spark.range(10L, 20L).select(col("id")).coalesce(1), t) // v1
    TxLog.deleteWhereDV(spark, t, col("id") < 3) // v2: 3 deletes
    val ckpt = java.nio.file.Files.createTempDirectory("txcdf_ck_").toString
    val perBatch = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def drain(): Unit = {
      val q = spark.readStream.format("txlog")
        .option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", "1").load(t)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val ins = b.filter(col("_change_type") === "insert").count()
          val del = b.filter(col("_change_type") === "delete").count()
          if (ins + del > 0) perBatch.add((ins, del)): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    import scala.jdk.CollectionConverters._
    val batches = perBatch.asScala.toSeq
    assert(batches == Seq((10L, 0L), (10L, 0L), (0L, 3L)),
      s"3 versions at cap 1 = 3 single-version CDF batches, got $batches")
    // restart ships only new versions — the engine-provided start
    // offset IS the checkpoint, a below-checkpoint re-emit cannot occur
    perBatch.clear()
    TxLog.append(spark.range(20L, 25L).select(col("id")).coalesce(1), t) // v3
    drain()
    assert(perBatch.asScala.toSeq == Seq((5L, 0L)),
      s"restart must ship only v3, got ${perBatch.asScala.toSeq}")
    // a range whose raw entries were truncated below a log checkpoint
    // refuses with the version number instead of silently skipping
    TxLog.checkpoint(t)
    (0 to 2).foreach(v => java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(t, "_log", f"$v%08d.txt")))
    val ck2 = java.nio.file.Files.createTempDirectory("txcdf_ck2_").toString
    val ex = intercept[Exception] {
      val q = spark.readStream.format("txlog")
        .option("readChangeFeed", "true").load(t)
        .writeStream.format("memory").queryName("cdf_trunc")
        .option("checkpointLocation", ck2)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("truncated") || msg.contains("raw log entries"),
      s"expected the truncation refusal, got: $msg")
    TxLog.drop(t)
  }

  test("SQL surface: a txlog table is queryable via CREATE TABLE ... " +
      "USING txlog") {
    val t = freshTable()
    TxLog.create(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), t)
    spark.sql("DROP TABLE IF EXISTS txsrc_sql")
    spark.sql(s"CREATE TABLE txsrc_sql USING txlog OPTIONS (path '$t')")
    try {
      val got = spark.sql("SELECT CAST(sum(v) AS BIGINT) FROM txsrc_sql")
        .head().getLong(0)
      assert(got == 30L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS txsrc_sql"): Unit
      TxLog.drop(t)
    }
  }
}
