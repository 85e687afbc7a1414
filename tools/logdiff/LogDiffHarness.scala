package graft

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.TxLog

/** Byte-diff harness: runs every TxLog writer; dumps read reports.
  *   fixture <fx>        build the shared fixture tables (base build)
  *   write <out>         run all writers under <out> (expects <out>/fx)
  *   report <tree> <f>   dump a read report of every table under <tree>
  */
object LogDiffHarness {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    args(0) match {
      case "fixture" => fixture(spark, args(1))
      case "write" => write(spark, args(1))
      case "report" => report(spark, args(1), args(2))
    }
    spark.stop()
  }

  def base(spark: SparkSession, lo: Long, hi: Long, parts: Int): DataFrame =
    spark.range(lo, hi, 1, parts).select(col("id"),
      (col("id") % 3).as("grp"),
      concat(lit("n\t="), (col("id") % 7).cast("string")).as("name"))

  def fixture(spark: SparkSession, fx: String): Unit = {
    new File(fx).mkdirs()
    // stats table with DVs over 3 files, a constraint, a property
    val st = s"$fx/src_stats"
    TxLog.appendWithStats(spark, base(spark, 0, 30, 3), st, Seq("id", "name"))
    TxLog.addConstraint(spark, st, "nonneg", "id >= 0")
    TxLog.alterProperties(st, Map("owner" -> "a=b\tc", "empty" -> ""))
    TxLog.deleteWhereDV(spark, st, col("id") % 4 === 1)
    // declared-partitioned + declared-stats table
    val sp = s"$fx/src_part"
    TxLog.createEmpty(sp, base(spark, 0, 1, 1).schema,
      Map(TxLog.PartitionColsProp -> "grp", TxLog.StatsColsProp -> "id"))
    TxLog.append(base(spark, 0, 24, 2), sp)
    TxLog.deleteWhereDV(spark, sp, col("id") === 5 || col("id") === 19)
    // plain parquet dirs for COPY INTO and CONVERT
    base(spark, 100, 110, 2).write.parquet(s"$fx/copy_in")
    base(spark, 200, 210, 2).write.parquet(s"$fx/convert_me")
  }

  def write(spark: SparkSession, out: String): Unit = {
    val fx = s"$out/fx"
    // clones of the fixtures first (their sources are mutated below)
    TxLog.shallowClone(s"$fx/src_stats", s"$out/c_shallow")
    TxLog.deepClone(s"$fx/src_stats", s"$out/c_deep")
    TxLog.shallowClone(s"$fx/src_part", s"$out/c_shallow_part")
    TxLog.deepClone(s"$out/c_shallow_part", s"$out/c_deep_of_shallow")
    TxLog.deleteWhere(spark, s"$out/c_shallow", col("id") === 2)

    // create + append, with stats; checkpoint
    val t = s"$out/t_create"
    TxLog.create(base(spark, 0, 10, 1), t)
    TxLog.append(base(spark, 10, 20, 1), t)
    TxLog.appendWithStats(spark, base(spark, 20, 30, 1), t, Seq("id", "name"))
    TxLog.appendWithStats(spark, base(spark, 30, 31, 1), t, "id")
    TxLog.checkpoint(t)
    TxLog.updateWhere(spark, t, col("id") === 3, Seq("grp" -> lit(9L)))
    TxLog.upsert(spark, t, base(spark, 5, 7, 1), "id")
    TxLog.deleteWhereDV(spark, t, col("id") === 25)
    TxLog.optimize(spark, t, 1, Seq("id", "grp"))
    TxLog.restore(t, 3)
    TxLog.truncate(t)
    TxLog.appendIdempotent(base(spark, 50, 52, 1), t, "app-1", 7L)
    TxLog.appendIdempotent(base(spark, 50, 52, 1), t, "app-1", 7L)
    TxLog.checkpoint(t)

    // partitioned writers on the fixture copy
    val p = s"$fx/src_part"
    TxLog.appendPartitioned(spark, base(spark, 40, 46, 1), p, Seq("grp"))
    TxLog.replaceWhere(spark, p, base(spark, 60, 66, 1).filter(col("grp") === 1),
      col("grp") === 1)
    TxLog.replaceDynamicPartitions(spark,
      base(spark, 70, 73, 1).filter(col("grp") === 2), p)
    TxLog.deleteWhere(spark, p, col("grp") === 0)
    TxLog.optimize(spark, p)
    TxLog.restore(p, 2)
    TxLog.checkpoint(p)

    // DV delete + restore on the stats fixture copy
    val s = s"$fx/src_stats"
    TxLog.deleteWhereDV(spark, s, col("id") === 28)
    TxLog.restore(s, 0)
    TxLog.deleteWhereDV(spark, s, col("id") % 5 === 0)

    // constraints, properties, schema evolution, rename/drop column
    val m = s"$out/t_meta"
    TxLog.create(base(spark, 0, 5, 1), m)
    TxLog.addConstraint(spark, m, "small=", "id < 1000")
    TxLog.alterProperties(m, Map("k%1" -> "v\r\n", "blank" -> ""), Seq.empty)
    TxLog.alterProperties(m, Map.empty, Seq("k%1"))
    TxLog.dropConstraint(m, "small=")
    TxLog.evolveSchema(m, TxLog.tableSchema(m).get.add("extra", "long"))
    TxLog.renameColumn(m, "name", "label")
    TxLog.dropColumn(m, "grp")
    TxLog.append(base(spark, 5, 8, 1).drop("grp")
      .withColumnRenamed("name", "label").withColumn("extra", lit(1L)), m)
    TxLog.alterMetadata(m, Map("x" -> "1"), Seq("blank"),
      Some(TxLog.tableSchema(m).get.add("more", "string")))

    // COPY INTO (twice: the second is a no-op) and CONVERT
    val c = s"$out/t_copy"
    TxLog.createEmpty(c, base(spark, 0, 1, 1).schema)
    TxLog.copyInto(spark, c, s"$fx/copy_in")
    TxLog.copyInto(spark, c, s"$fx/copy_in")
    TxLog.convert(spark, s"$fx/convert_me", Seq("id"))

    // multi-table transactions (new tables, then replace)
    TxLog.appendAll(s"$out/_txn", Seq(base(spark, 0, 3, 1) -> s"$out/m_a",
      base(spark, 3, 6, 1) -> s"$out/m_b"))
    TxLog.appendAll(s"$out/_txn", Seq(base(spark, 6, 8, 1) -> s"$out/m_a",
      base(spark, 8, 9, 1) -> s"$out/m_b"))
    TxLog.replaceAll(s"$out/_txn", Seq(base(spark, 10, 12, 1) -> s"$out/m_a",
      base(spark, 12, 13, 1) -> s"$out/m_b"))

    // auto-checkpoint cadence
    val l = s"$out/t_long"
    TxLog.create(base(spark, 0, 1, 1), l)
    (1 to 11).foreach(i => TxLog.append(base(spark, i, i + 1, 1), l))

    // SQL through the catalog: CTAS/RTAS, DML, MERGE, TRUNCATE
    spark.conf.set("spark.sql.catalog.graft_lake",
      classOf[graft.sources.TxLogCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_lake.base", s"$out/lake")
    new File(s"$out/lake").mkdirs()
    base(spark, 0, 12, 1).createOrReplaceTempView("src12")
    spark.sql("""CREATE TABLE graft_lake.q (id BIGINT, grp BIGINT, name STRING)
                 USING txlog PARTITIONED BY (grp)""")
    spark.sql("INSERT INTO graft_lake.q SELECT * FROM src12")
    spark.sql("DELETE FROM graft_lake.q WHERE grp = 1")
    spark.sql("UPDATE graft_lake.q SET name = 'u' WHERE id = 3")
    spark.sql("""MERGE INTO graft_lake.q t USING (SELECT * FROM src12
                 WHERE id > 8) s ON t.id = s.id
                 WHEN MATCHED THEN UPDATE SET name = 'm'
                 WHEN NOT MATCHED THEN INSERT *""")
    spark.sql("""CREATE TABLE graft_lake.r USING txlog
                 TBLPROPERTIES ('graft.stats.columns' = 'id')
                 AS SELECT * FROM src12""")
    spark.sql("""CREATE OR REPLACE TABLE graft_lake.r USING txlog
                 PARTITIONED BY (grp) AS SELECT * FROM src12 WHERE id < 6""")
    spark.sql("TRUNCATE TABLE graft_lake.q")
  }

  def tables(tree: String): Seq[String] = {
    val w = Files.walk(Paths.get(tree))
    try {
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.filter(p => p.getFileName.toString == "_log")
        .map(_.getParent.toString).toList.sorted
    } finally w.close()
  }

  def report(spark: SparkSession, tree: String, outFile: String): Unit = {
    val sb = new StringBuilder
    tables(tree).foreach { d =>
      val rel = Paths.get(tree).relativize(Paths.get(d)).toString
      val cur = TxLog.currentVersion(d)
      (0 to cur).foreach { v =>
        val vv = Some(v)
        def line(k: String, x: Any): Unit = sb ++= s"$rel@$v $k $x\n"
        try {
          line("snapshot", TxLog.snapshot(d, vv))
          line("stats", TxLog.fileStatsAll(d, vv).toSeq.sortBy(_._1))
          line("strStats", TxLog.fileStatsStrAll(d, vv).toSeq.sortBy(_._1))
          line("parts", TxLog.partitionValues(d, vv).toSeq.sortBy(_._1))
          line("dvs", TxLog.deletionVectors(spark, d, vv).toSeq.sortBy(_._1)
            .map { case (f, ps) => f -> ps.toSeq.sorted })
          line("schema", TxLog.tableSchema(d, vv).map(_.json))
          line("props", TxLog.tableProperties(d, vv).toSeq.sorted)
          line("cons", TxLog.constraints(d, vv).toSeq.sorted)
          line("mapping", TxLog.columnMapping(d, vv))
          line("rows", TxLog.read(spark, d, vv).collect().map(_.toString).sorted.toSeq)
        } catch { case e: Throwable => line("error", e.getClass.getName) }
      }
      sb ++= s"$rel history ${TxLog.history(d).map(h => (h._1, h._3, h._4, h._5))}\n"
      sb ++= s"$rel features ${TxLog.tableFeatures(d).toSeq.sorted}\n"
      sb ++= s"$rel copied ${TxLog.copiedSources(d).toSeq.sorted.map(p =>
        Paths.get(tree).toAbsolutePath.relativize(Paths.get(p)).toString)}\n"
      sb ++= s"$rel txnSeen ${TxLog.txnSeen(d, "app-1", 7L)}\n"
    }
    Files.write(Paths.get(outFile), sb.toString.getBytes("UTF-8"))
  }
}
