package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{LogAction, TxLog}
import graft.core.LogAction._

/** Golden pins of the TxLog line grammar: one literal line per action
  * kind, in the exact bytes the writers put on disk, must decode to the
  * expected typed action and encode back byte-for-byte — so logs,
  * checkpoints and transaction files written before the typed codec
  * read unchanged. Plus a guard that keeps the grammar in one place. */
class LogActionSpec extends AnyFunSuite {

  private val golden: Seq[(String, LogAction)] = Seq(
    "ts\t1700000000123" -> Ts(1700000000123L),
    "add\tpart-0a1b2c3d-0.parquet" -> Add("part-0a1b2c3d-0.parquet"),
    // mixed markers keep their written order; escaped %0D/%09/%3D in
    // string bounds decode to the raw characters
    "add\tpart-0a1b2c3d-1.parquet\tp:day=2024-01-01\tid\t-3\t97\t" +
      "s:name=al%09ice=zo%3De%0D\tp:region=EU%25" ->
      Add("part-0a1b2c3d-1.parquet", Seq(Part("day", "2024-01-01"),
        Bounds("id", -3L, 97L), StrBounds("name", "al\tice", "zo=e\r"),
        Part("region", "EU%"))),
    // an EMPTY string max must keep its trailing segment
    "add\tf.parquet\ts:c=lo=" -> Add("f.parquet", Seq(StrBounds("c", "lo", ""))),
    // a shallow clone's relative reference
    "add\t../src/part-0a1b2c3d-2.parquet\tid\t0\t9" ->
      Add("../src/part-0a1b2c3d-2.parquet", Seq(Bounds("id", 0L, 9L))),
    "remove\tpart-0a1b2c3d-0.parquet" -> Remove("part-0a1b2c3d-0.parquet"),
    "dv\tpart-0a1b2c3d-1.parquet\t1,5,9" ->
      Dv("part-0a1b2c3d-1.parquet", Seq(1L, 5L, 9L)),
    "dvf\tpart-0a1b2c3d-1.parquet\t_dv/v3-0a1b2c3d" ->
      Dvf("part-0a1b2c3d-1.parquet", "_dv/v3-0a1b2c3d"),
    "txn\tstream-app\t42" -> Txn("stream-app", 42L),
    "constraint\tpos%3Did\tid >%3D 0" -> Constraint("pos=id", "id >= 0"),
    "unconstraint\tpos%3Did" -> Unconstraint("pos=id"),
    // an EMPTY property value must keep its trailing field
    "property\tk\t" -> Property("k", ""),
    "property\tgraft.column.mapping\ta%253Db" ->
      Property("graft.column.mapping", "a%3Db"),
    "unproperty\tk" -> Unproperty("k"),
    "copysrc\t/data/in/a%09b.parquet" -> CopySrc("/data/in/a\tb.parquet"),
    "uncopysrc\t/data/in/a.parquet" -> UncopySrc("/data/in/a.parquet"),
    "feature\tcolumn-mapping" -> Feature("column-mapping"),
    "schema\t{\"type\":\"struct\",\"fields\":[]}" ->
      Schema("{\"type\":\"struct\",\"fields\":[]}"),
    "xref\t../_txn/tx-0123456789ab.txt\t1" ->
      Xref("../_txn/tx-0123456789ab.txt", 1),
    "nodc" -> NoDataChange,
    "!tables\tfact\tdim" -> TxTables(Seq("fact", "dim")),
    "0\tadd\tpart-0a1b2c3d-3.parquet\tp:k=v" ->
      Keyed(0, Add("part-0a1b2c3d-3.parquet", Seq(Part("k", "v")))),
    "1\tschema\t{}" -> Keyed(1, Schema("{}")))

  test("every line kind decodes to its typed action and encodes back " +
      "byte-for-byte") {
    golden.foreach { case (line, expected) =>
      assert(LogAction.decode(line) == expected, s"decode of ${line.take(60)}")
      assert(LogAction.encode(expected) == line, s"encode of $expected")
    }
  }

  test("unknown kinds and non-canonical payloads pass through verbatim") {
    Seq("frobnicate\tx\ty", "dv\tf\t", "dv\tf\t1,,2", "ts\tsoon",
        "ts\t007", "xref\ttx.txt", "txn\tnoid", "").foreach { l =>
      assert(LogAction.decode(l) == Unknown(l), l)
      assert(LogAction.encode(LogAction.decode(l)) == l)
    }
    // an add's unparseable markers stay on the line as raw fields; the
    // file stays live and the parseable markers keep their meaning
    val odd = "add\tf.parquet\tp:=x\tid\t+1\t2\ts:c=lo=hi\tstray\t"
    val a = LogAction.decode(odd).asInstanceOf[Add]
    assert(LogAction.encode(a) == odd)
    assert(a.file == "f.parquet" && a.partitionValues.isEmpty &&
      a.stats.isEmpty && a.strStats == Map("c" -> ("lo", "hi")))
  }

  test("a multi-table tx file with its !tables header round-trips " +
      "through render and read") {
    val bytes = "!tables\t../a\t../b\n0\tadd\tx.parquet\n1\tremove\ty.parquet\n"
    val p = Files.createTempFile("txfile_", ".txt")
    try {
      Files.write(p, bytes.getBytes("UTF-8"))
      val acts = LogAction.read(p)
      assert(acts == Seq(TxTables(Seq("../a", "../b")),
        Keyed(0, Add("x.parquet")), Keyed(1, Remove("y.parquet"))))
      assert(new String(LogAction.render(acts), "UTF-8") == bytes)
    } finally Files.deleteIfExists(p): Unit
  }

  test("replay ignores an unknown line kind") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val t = Files.createTempDirectory("txlog_unknown_").toString
    TxLog.createEmpty(t, StructType(Seq(StructField("id", LongType))))
    Files.write(Paths.get(t, "_log", "00000001.txt"),
      "ts\t5\nfrobnicate\tg.parquet\nadd\tf.parquet\n".getBytes("UTF-8"))
    assert(TxLog.snapshot(t) == Seq("f.parquet"))
    assert(TxLog.tableProperties(t).isEmpty && TxLog.constraints(t).isEmpty)
    assert(TxLog.history(t).head == ((1, 5L, 1, 0, 0)))
    TxLog.drop(t)
  }

  test("no program file outside the codec builds or splits a log line") {
    val kinds = Seq("ts", "add", "remove", "dv", "dvf", "txn", "constraint",
      "unconstraint", "property", "unproperty", "copysrc", "uncopysrc",
      "feature", "schema", "xref", "!tables")
    val literal = ("\"(" + kinds.mkString("|") + ")\\\\t|\"nodc\"").r
    val tabSplit = """split\(\s*('\\t'|"\\t")""".r
    val root = Paths.get("src/main/scala")
    val files = {
      val w = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      } finally w.close()
    }
    assert(files.size > 50, s"source walk found only ${files.size} files")
    val leaks = files.filterNot(_.endsWith("core/LogAction.scala")).flatMap { p =>
      val src = new String(Files.readAllBytes(p), "UTF-8")
      src.linesIterator.zipWithIndex.collect {
        case (l, i) if literal.findFirstIn(l).isDefined ||
            // the blob manifest is a different tab-separated format
            (tabSplit.findFirstIn(l).isDefined &&
              !p.endsWith("sources/BlobShardSource.scala")) =>
          s"${root.relativize(p)}:${i + 1}: ${l.trim}"
      }
    }
    assert(leaks.isEmpty,
      "log grammar outside graft.core.LogAction:\n" + leaks.mkString("\n"))
  }
}
