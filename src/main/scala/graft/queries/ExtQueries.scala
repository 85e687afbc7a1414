package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Cleanup.PersistTrackedOps
import graft.core.{Sinks, Stable, Tables}

/** Round-7 extension surface: the storage-layout mechanics a 100 TB
  * deployment leans on daily (bucketed co-located joins, partition-pruned
  * scans — both exercised END-TO-END through real writes, not just plan
  * assertions), plus string-similarity linkage on the native Jaro-Winkler
  * expression, sample-level PCM audio decode, and sequence/time-series
  * analytics (Markov transitions, purged time-series CV, span-corruption
  * accounting, exact dyadic EWMA).
  *
  * Reference analog: the reference has no layout management at all — every
  * DAG re-reads the full CSV (`airflow/dags/CompleteETL.py:20`); bucketing
  * and partition pruning are what replace that pattern at scale.
  */
object ExtQueries {

  /** Per-doc WAV containers (q120 geometry) routed to 4 shards — the
    * media frame q247 packs and q248 streams. */
  private def wavMedia(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, txt) =>
        val pcm = txt.getBytes("UTF-8")
        val ch = (1 + id % 2).toInt
        val rate = if (id % 3 == 0) 16000 else 8000
        (id, graft.functions.Multimodal.wavBytes(
          rate, ch, pcm.length / (ch * 2), pcm))
      }.toDF("doc_id", "media")
      .withColumn("shard", (call_function("graft_hash32",
        col("doc_id").cast("string")) % 4).cast("int"))
  }

  private def shardDir(dir: String): String =
    Scratch.dir("shards", dir)

  /** (small-files dir, compacted dir) for q292 — deterministic per
    * corpus dir, overwritten each run; package-visible so
    * CompactionSpec can pin the physical file counts. */
  private[graft] def compactionDirs(dir: String): (String, String) = {
    val base = Scratch.dir("compact", dir)
    (base + "/small", base + "/compact")
  }

  private def evolutionDir(dir: String): String =
    Scratch.dir("evolve", dir)

  private def dpoDir(dir: String): String =
    Scratch.dir("dpo", dir)

  /** (z_{0.975} + z_{0.8})² — the standard 80%-power two-sided-5%
    * constant, computed ONCE here and interpolated into both engines so
    * the literal cannot drift (NOTES rule 7). MUST be defined above
    * `specs`: the oracle strings interpolate it at object init, and a
    * forward val reference would silently read 0.0. */
  private[queries] val zSum2: Double = {
    val k = 1.959963984540054 + 0.8416212335729143
    k * k
  }

  val specs: Seq[QuerySpec] = Seq(

    // q224 — BUCKETED co-located join, exercised through a real write:
    // both sides are written `bucketBy(8, key)` via the managed-table
    // sink, then joined ON the bucket key. Spark reads bucket i of each
    // side into the same task, so the SortMergeJoin runs with NO
    // shuffle exchange on either side (pinned in PlanSpec) — the
    // pre-shuffled layout that makes REPEATED fact⋈fact work O(scan)
    // instead of O(scan+shuffle) per run at 100 TB. The `merge` hint
    // keeps the planner from broadcasting the (fixture-tiny) customer
    // side, which would hide the bucketing; at scale neither side
    // broadcasts anyway. Results are layout-independent — the oracle is
    // the plain join over the original parquet.
    QuerySpec("q224_bucketed_join",
      (s, dir) => {
        val nb = 8
        Sinks.bucketed(Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice"),
          "graft_bkt_orders", Seq("o_custkey"), nb)
        Sinks.bucketed(Tables.load(s, dir, "customer")
          .select("c_custkey", "c_mktsegment"),
          "graft_bkt_customer", Seq("c_custkey"), nb)
        s.table("graft_bkt_orders")
          .join(s.table("graft_bkt_customer").hint("merge"),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // q225 — PARTITION-PRUNED scan, exercised through a real
    // partitioned write: orders land as parquet partitioned by
    // o_orderpriority, and the read-back filters on the partition
    // column — the scan lists ONE directory of five (PartitionFilters
    // in the plan, pinned in PlanSpec) and never opens the other 80%
    // of files. This is THE first-line data-skipping mechanism at
    // 100 TB (cf. q169's z-order cells for multi-column skipping);
    // the oracle is the same aggregate with a row filter over the
    // original table, so pruning is proven not to change results.
    QuerySpec("q225_partition_prune",
      (s, dir) => {
        val out = Scratch.dir("pprune", dir)
        Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority")
          .write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
        s.read.parquet(out)
          .filter(col("o_orderpriority") === "1-URGENT")
          .groupBy(year(col("o_orderdate")).as("yr"))
          .agg(count(lit(1)).as("n_orders"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .orderBy("yr")
      },
      Some("""SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
             |  CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders WHERE o_orderpriority = '1-URGENT'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q226 — fuzzy-name linkage on the NATIVE Jaro-Winkler expression
    // (graft_jaro_winkler, DuckDB-parity semantics pinned by a
    // 50k-random-pair cross-check in JaroWinklerSpec): exact-dedup the
    // name column first (fuzzy matching duplicate literals is wasted
    // work — the standard linkage order), then sorted-neighborhood
    // within first-letter blocks (lead 1..2 — O(n·w) pairs, q72/q209's
    // scale argument; a cross-letter near-match has prefix weight 0 and
    // cannot reach the threshold anyway, so the blocking loses nothing
    // the threshold would keep). Rounded to 6 dp so the one-division
    // association difference between engines cannot flip the hash.
    QuerySpec("q226_jaro_linkage",
      (s, dir) => {
        val d = Tables.load(s, dir, "part")
          .groupBy("p_name").agg(min(col("p_partkey")).as("pk"))
        val w = Window.partitionBy(substring(col("p_name"), 1, 1))
          .orderBy("p_name", "pk")
        val leads = (1 to 2).map(k => struct(
          lead(col("pk"), k).over(w).as("kb"),
          lead(col("p_name"), k).over(w).as("nb")))
        d.select(col("pk"), col("p_name"), array(leads: _*).as("nbs"))
          .select(col("pk"), col("p_name"), explode(col("nbs")).as("x"))
          .filter(col("x.kb").isNotNull)
          .select(col("pk").as("key_a"), col("x.kb").as("key_b"),
            col("p_name").as("name_a"), col("x.nb").as("name_b"),
            round(call_function("graft_jaro_winkler",
              col("p_name"), col("x.nb")), 6).as("jw"))
          .filter(col("jw") >= 0.87)
          .orderBy("key_a", "key_b")
      },
      Some("""WITH d AS (SELECT p_name, min(p_partkey) AS pk FROM part GROUP BY p_name),
             |r AS (SELECT pk, p_name,
             |    lead(p_name, 1) OVER w AS n1, lead(pk, 1) OVER w AS k1,
             |    lead(p_name, 2) OVER w AS n2, lead(pk, 2) OVER w AS k2
             |  FROM d
             |  WINDOW w AS (PARTITION BY substr(p_name, 1, 1) ORDER BY p_name, pk)),
             |u AS (SELECT pk AS key_a, k1 AS key_b, p_name AS name_a, n1 AS name_b
             |    FROM r WHERE k1 IS NOT NULL
             |  UNION ALL
             |  SELECT pk, k2, p_name, n2 FROM r WHERE k2 IS NOT NULL),
             |j AS (SELECT key_a, key_b, name_a, name_b,
             |    round(jaro_winkler_similarity(name_a, name_b), 6) AS jw FROM u)
             |SELECT key_a, key_b, name_a, name_b, jw FROM j
             |WHERE jw >= 0.87 ORDER BY key_a, key_b""".stripMargin)),

    // q287 — GOLDEN RECORD (master-data survivorship), composing the
    // engine's linkage stack end-to-end: q226's native-Jaro-Winkler
    // sorted-neighborhood pairs become match EDGES, connected
    // components (ops.ConnectedComponents — the q76 operator) turn
    // pairwise matches into entity CLUSTERS, and a survivorship pass
    // elects each cluster's golden attributes — longest name wins (tie
    // → lowest key; the "most complete value" rule), highest observed
    // price, distinct-brand spread. Singletons are their own cluster
    // (coalesce to own key after a LEFT join — CC only labels matched
    // nodes). The argmax is one struct-MAX aggregate; the whole merge
    // is entity-grain. This is the MDM consolidation every curation
    // pipeline runs after fuzzy matching. Oracle: recursive-CTE
    // reachability (q76's pattern) + the same survivorship SQL.
    QuerySpec("q287_golden_record",
      (s, dir) => {
        val parts = Tables.load(s, dir, "part")
        val d = parts.groupBy("p_name").agg(min(col("p_partkey")).as("pk"))
        val recs = d.select(col("pk"))
          .join(parts, col("pk") === col("p_partkey"))
          .select(col("pk"), col("p_name"), col("p_brand"),
            col("p_retailprice"))
          .persistTracked()
        val w = Window.partitionBy(substring(col("p_name"), 1, 1))
          .orderBy("p_name", "pk")
        val leads = (1 to 2).map(k => struct(
          lead(col("pk"), k).over(w).as("kb"),
          lead(col("p_name"), k).over(w).as("nb")))
        val edges = d
          .select(col("pk"), col("p_name"), array(leads: _*).as("nbs"))
          .select(col("pk"), col("p_name"), explode(col("nbs")).as("x"))
          .filter(col("x.kb").isNotNull &&
            round(call_function("graft_jaro_winkler",
              col("p_name"), col("x.nb")), 6) >= 0.87)
          .select(col("pk").as("src"), col("x.kb").as("dst"))
        val labels = graft.ops.ConnectedComponents
          .minLabelPropagation(edges)
          .withColumnRenamed("node", "pk")
        recs.join(labels, Seq("pk"), "left")
          .withColumn("cid", coalesce(col("cid"), col("pk")))
          .groupBy("cid")
          .agg(count(lit(1)).as("members"),
            max(struct(length(col("p_name")).as("l"),
              (-col("pk")).as("nk"), col("p_name").as("nm"))).as("g"),
            max(col("p_retailprice")).cast("decimal(12,2)").cast("double")
              .as("max_price"),
            countDistinct(col("p_brand")).as("n_brands"))
          .select(col("cid").as("cluster_id"), col("members"),
            (-col("g.nk")).as("golden_key"), col("g.nm").as("golden_name"),
            col("max_price"), col("n_brands"))
          .orderBy("cluster_id")
      },
      Some("""WITH RECURSIVE d AS (SELECT p_name, min(p_partkey) AS pk
             |    FROM part GROUP BY p_name),
             |recs AS (SELECT d.pk, d.p_name, p.p_brand, p.p_retailprice
             |  FROM d JOIN part p ON d.pk = p.p_partkey),
             |r AS (SELECT pk, p_name,
             |    lead(p_name, 1) OVER w AS n1, lead(pk, 1) OVER w AS k1,
             |    lead(p_name, 2) OVER w AS n2, lead(pk, 2) OVER w AS k2
             |  FROM d
             |  WINDOW w AS (PARTITION BY substr(p_name, 1, 1) ORDER BY p_name, pk)),
             |u AS (SELECT pk AS key_a, k1 AS key_b FROM r
             |    WHERE k1 IS NOT NULL AND round(jaro_winkler_similarity(p_name, n1), 6) >= 0.87
             |  UNION ALL
             |  SELECT pk, k2 FROM r
             |    WHERE k2 IS NOT NULL AND round(jaro_winkler_similarity(p_name, n2), 6) >= 0.87),
             |edges AS (SELECT key_a AS a, key_b AS b FROM u
             |  UNION SELECT key_b, key_a FROM u),
             |reach AS (SELECT a AS src, b AS dst FROM edges
             |  UNION SELECT rr.src, e.b FROM reach rr JOIN edges e ON rr.dst = e.a),
             |lab AS (SELECT src AS pk, least(src, min(dst)) AS cid
             |  FROM reach GROUP BY src),
             |clustered AS (SELECT recs.pk, recs.p_name, recs.p_brand,
             |    recs.p_retailprice, COALESCE(lab.cid, recs.pk) AS cid
             |  FROM recs LEFT JOIN lab ON recs.pk = lab.pk),
             |g AS (SELECT cid, pk, p_name,
             |    row_number() OVER (PARTITION BY cid
             |      ORDER BY strlen(p_name) DESC, pk) AS rn
             |  FROM clustered)
             |SELECT c.cid AS cluster_id, CAST(count(*) AS BIGINT) AS members,
             |  CAST(max(CASE WHEN g.rn = 1 THEN g.pk END) AS BIGINT) AS golden_key,
             |  max(CASE WHEN g.rn = 1 THEN g.p_name END) AS golden_name,
             |  CAST(CAST(max(c.p_retailprice) AS DECIMAL(12,2)) AS DOUBLE) AS max_price,
             |  CAST(count(DISTINCT c.p_brand) AS BIGINT) AS n_brands
             |FROM clustered c JOIN g ON c.cid = g.cid AND c.pk = g.pk
             |GROUP BY c.cid ORDER BY cluster_id""".stripMargin)),

    // q227 — PCM SAMPLE decode (one level past q120's header walk):
    // synthesize the WAV from the text bytes (same id-derived geometry
    // as q120), then decode the data chunk's 16-bit little-endian
    // frames for real (Multimodal.decodePcm16) and fold energy metrics
    // — Σv² and peak |v| — per document. All-integer output, so the
    // oracle reconstructs the identical samples arithmetically from the
    // character codes (the corpus is pure ASCII: octet==char, the q120
    // contract). Narrow per-row transform — the 100 TB audio-feature
    // shape (silence detection, loudness normalization) with zero
    // shuffle.
    QuerySpec("q227_wav_energy",
      (s, dir) => {
        import s.implicits._
        val ds = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
        ds.mapPartitions(_.flatMap { case (id, txt) =>
          val pcm = txt.getBytes("UTF-8")
          val ch = (1 + id % 2).toInt
          val rate = if (id % 3 == 0) 16000 else 8000
          val media = graft.functions.Multimodal.wavBytes(
            rate, ch, pcm.length / (ch * 2), pcm)
          graft.functions.Multimodal.decodePcm16(media).map {
            case (_, _, samples) =>
              var ss = 0L; var peak = 0; var i = 0
              while (i < samples.length) {
                val v = samples(i)
                ss += v.toLong * v
                if (math.abs(v) > peak) peak = math.abs(v)
                i += 1
              }
              (id, samples.length.toLong, ss, peak.toLong)
          }
        }).toDF("doc_id", "n_samples", "sum_sq", "peak")
          .orderBy("doc_id")
      },
      Some("""WITH p AS (SELECT doc_id, CAST(1 + doc_id % 2 AS INTEGER) AS ch, text
             |  FROM documents),
             |v AS (SELECT doc_id,
             |    (strlen(text) // (ch*2)) * ch AS ns,
             |    list_transform(
             |      list_transform(range((strlen(text) // (ch*2)) * ch),
             |        k -> ord(substr(text, CAST(2*k+1 AS INTEGER), 1))
             |             + 256 * ord(substr(text, CAST(2*k+2 AS INTEGER), 1))),
             |      u -> CAST(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS BIGINT)) AS vs
             |  FROM p)
             |SELECT doc_id, CAST(ns AS BIGINT) AS n_samples,
             |  CAST(COALESCE(list_sum(list_transform(vs, v -> v*v)), 0) AS BIGINT) AS sum_sq,
             |  CAST(COALESCE(list_max(list_transform(vs, v -> abs(v))), 0) AS BIGINT) AS peak
             |FROM v ORDER BY doc_id""".stripMargin)),

    // q228 — first-order Markov transition matrix over per-user event
    // sequences with Laplace (+1) smoothing — the sequence model behind
    // next-event prediction and anomalous-session scoring. Transitions
    // are lead() pairs in the q184 total order; the full V×V grid comes
    // from a broadcast self-cross of the (tiny, vocabulary-grain) type
    // set so unobserved transitions appear with their smoothed floor.
    // Counts are exact; each probability is ONE division of identical
    // exact integers in both engines, rounded for display. One
    // user-grain shuffle + vocabulary-grain joins — corpus-size
    // independent state, the 100 TB shape.
    QuerySpec("q228_markov_chain",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val pairs = ev
          .select(col("event_type").as("src"),
            lead(col("event_type"), 1).over(w).as("dst"))
          .filter(col("dst").isNotNull)
        val c = pairs.groupBy("src", "dst")
          .agg(count(lit(1)).as("n")).persistTracked()
        val types = ev.select(col("event_type").as("et"))
          .distinct().persistTracked()
        val grid = types.select(col("et").as("src"))
          .crossJoin(types.select(col("et").as("dst")))
        val rt = c.groupBy("src").agg(sum(col("n")).as("tot"))
        val nv = types.agg(count(lit(1)).as("nv"))
        grid.join(c, Seq("src", "dst"), "left")
          .join(rt, Seq("src"), "left")
          .crossJoin(broadcast(nv))
          .select(col("src").as("src_type"), col("dst").as("dst_type"),
            coalesce(col("n"), lit(0L)).as("n_obs"),
            round((coalesce(col("n"), lit(0L)) + lit(1.0)) /
              (coalesce(col("tot"), lit(0L)) + col("nv")), 6).as("p_smoothed"))
          .orderBy("src_type", "dst_type")
      },
      Some("""WITH p AS (SELECT event_type AS src,
             |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
             |  FROM events),
             |c AS (SELECT src, dst, count(*) AS n FROM p
             |  WHERE dst IS NOT NULL GROUP BY src, dst),
             |t AS (SELECT DISTINCT event_type AS et FROM events),
             |g AS (SELECT a.et AS src, b.et AS dst FROM t a CROSS JOIN t b),
             |rt AS (SELECT src, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY src),
             |v AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM t)
             |SELECT g.src AS src_type, g.dst AS dst_type,
             |  CAST(COALESCE(c.n, 0) AS BIGINT) AS n_obs,
             |  round((COALESCE(c.n, 0) + 1.0) / (COALESCE(rt.tot, 0) + nv), 6) AS p_smoothed
             |FROM g LEFT JOIN c ON g.src = c.src AND g.dst = c.dst
             |LEFT JOIN rt ON g.src = rt.src, v
             |ORDER BY src_type, dst_type""".stripMargin)),

    // q229 — PURGED time-series cross-validation (k temporal folds with
    // a 30-day embargo): the leakage-free split protocol for models on
    // serially-correlated data — rows within the embargo of a test
    // fold's date range belong to NEITHER side. Fold assignment is
    // exact integer date arithmetic off the data's own span (no
    // quantiles to diverge). The span and the 5 fold [lo, hi] bounds
    // are BOUNDED driver collects (1 row, then k=5 rows — the
    // q168/q284/q320 rule); the per-fold classification is then a
    // literal CASE matrix evaluated in ONE corpus pass producing all
    // 5×3 counts, restacked to 5 rows on the 1-row aggregate frame —
    // no k× row fanout, no broadcast joins, no extra shuffle
    // (VERDICT r8: the fanout form was pure-scheduling-bound).
    QuerySpec("q229_purged_cv",
      (s, dir) => {
        val b = Tables.load(s, dir, "orders")
          .select(col("o_orderdate").cast("date").as("day"))
        val sp = b.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .head()
        val (d0, d1) = (sp.getDate(0), sp.getDate(1))
        val f = b.select(col("day"),
            expr(s"CAST((datediff(day, DATE'$d0') * 5) DIV " +
              s"(datediff(DATE'$d1', DATE'$d0') + 1) AS INT)").as("fold"))
          .persistTracked()
        val bounds = f.groupBy(col("fold"))
          .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
          .collect()
          .map(r => (r.getInt(0), r.getDate(1), r.getDate(2)))
          .sortBy(_._1)
        val sums = bounds.flatMap { case (bf, lo, hi) =>
          val emb = col("day").between(
            date_sub(lit(lo), 30), date_add(lit(hi), 30))
          Seq(
            sum(when(col("fold") === bf, 1L).otherwise(0L)).as(s"t$bf"),
            sum(when(col("fold") =!= bf && emb, 1L).otherwise(0L))
              .as(s"e$bf"),
            sum(when(col("fold") =!= bf && !emb, 1L).otherwise(0L))
              .as(s"r$bf"))
        }
        val rows = bounds.map { case (bf, _, _) =>
          struct(lit(bf).as("fold"), col(s"t$bf").as("n_test"),
            col(s"e$bf").as("n_embargo"), col(s"r$bf").as("n_train"))
        }
        f.agg(sums.head, sums.tail: _*)
          .select(explode(array(rows: _*)).as("x"))
          .select(col("x.fold"), col("x.n_test"), col("x.n_embargo"),
            col("x.n_train"))
          .orderBy("fold")
      },
      Some("""WITH b AS (SELECT CAST(o_orderdate AS DATE) AS day FROM orders),
             |s AS (SELECT min(day) AS d0, max(day) AS d1 FROM b),
             |f AS (SELECT day,
             |    CAST((date_diff('day', d0, day) * 5) // (date_diff('day', d0, d1) + 1) AS INTEGER) AS fold
             |  FROM b, s),
             |bounds AS (SELECT fold AS bf, min(day) AS lo, max(day) AS hi
             |  FROM f GROUP BY fold)
             |SELECT bf AS fold,
             |  CAST(SUM(CASE WHEN f.fold = bf THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
             |  CAST(SUM(CASE WHEN f.fold <> bf AND f.day BETWEEN lo - 30 AND hi + 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_embargo,
             |  CAST(SUM(CASE WHEN f.fold <> bf AND NOT (f.day BETWEEN lo - 30 AND hi + 30) THEN 1 ELSE 0 END) AS BIGINT) AS n_train
             |FROM f CROSS JOIN bounds GROUP BY bf ORDER BY bf""".stripMargin)),

    // q231 — T5-style span-corruption accounting: mask 15% of token
    // positions by the portable hash (deterministic — the same doc
    // always corrupts identically, the reproducibility requirement for
    // training-data builds), coalesce adjacent masked positions into
    // spans via a lag() run-start flag, and report per-document
    // input/target lengths (input = kept tokens + one sentinel per
    // span; target = masked tokens + one sentinel per span). Token
    // grain → doc grain: one partitionBy(doc) window pass, no
    // corpus-scale state.
    QuerySpec("q231_span_corruption",
      (s, dir) => {
        val toks = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(graft.functions.Text.tokens(col("text"))))
          .select(col("doc_id"), col("pos"))
        val m = toks.withColumn("mask",
          call_function("graft_hash32",
            concat_ws(":", col("doc_id"), col("pos"))) % 100 < 15)
        val w = Window.partitionBy("doc_id").orderBy("pos")
        m.withColumn("pm", coalesce(lag(col("mask"), 1).over(w), lit(false)))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("mask"), 1L).otherwise(0L)).as("n_masked"),
            sum(when(col("mask") && !col("pm"), 1L).otherwise(0L)).as("n_spans"))
          .select(col("doc_id"), col("n_tokens"), col("n_masked"), col("n_spans"),
            (col("n_tokens") - col("n_masked") + col("n_spans")).as("input_len"),
            (col("n_masked") + col("n_spans")).as("target_len"))
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, i - 1 AS pos
             |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
             |        FROM documents),
             |    UNNEST(generate_series(1, len(w))) t(i)),
             |m AS (SELECT doc_id, pos,
             |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 15 AS mask
             |  FROM tk),
             |r AS (SELECT doc_id, mask,
             |    COALESCE(lag(mask) OVER (PARTITION BY doc_id ORDER BY pos), false) AS pm
             |  FROM m),
             |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |    CAST(SUM(CASE WHEN mask THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
             |    CAST(SUM(CASE WHEN mask AND NOT pm THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
             |  FROM r GROUP BY doc_id)
             |SELECT doc_id, n_tokens, n_masked, n_spans,
             |  n_tokens - n_masked + n_spans AS input_len,
             |  n_masked + n_spans AS target_len
             |FROM a ORDER BY doc_id""".stripMargin)),

    // q232 — EWMA control chart over daily event counts, in EXACT
    // arithmetic: α = 1/2 over a 14-day horizon makes every weight a
    // dyadic rational 2⁻ᵏ, so each term n/2ᵏ and every partial sum is
    // exactly representable (numerators stay ≪ 2⁵³ over a common 2¹³
    // denominator) — the sum is order-independent and bit-identical
    // across engines and partition counts, where a general-α EWMA's
    // float powers would not be. The trailing window materializes as a
    // bounded ≤14× fanout + equi-join (q222's sliding-window shape),
    // never a range self-join; `spike` flags days breaching 2× the
    // previous day's smoothed level.
    QuerySpec("q232_ewma_control",
      (s, dir) => {
        val d = Tables.load(s, dir, "events")
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).cast("date").as("day"))
          .agg(count(lit(1)).as("n"))
          .persistTracked()
        val fan = d
          .select(col("event_type"), col("day").as("bday"), col("n").as("bn"),
            explode(expr("sequence(0, 13)")).as("k"))
          .select(col("event_type"), expr("date_add(bday, k)").as("day"),
            expr("bn / CAST(shiftleft(CAST(1 AS BIGINT), k) AS DOUBLE)").as("wn"),
            expr("1.0 / CAST(shiftleft(CAST(1 AS BIGINT), k) AS DOUBLE)").as("wd"))
        val agg = fan.groupBy("event_type", "day")
          .agg(sum(col("wn")).as("num"), sum(col("wd")).as("den"))
        val w = Window.partitionBy("event_type").orderBy("day")
        d.join(agg, Seq("event_type", "day"))
          .withColumn("sm", col("num") / col("den"))
          .withColumn("prev", lag(col("sm"), 1).over(w))
          .select(col("event_type"), col("day"), col("n"),
            round(col("sm"), 6).as("ewma"),
            coalesce(col("n") > lit(2.0) * col("prev"), lit(false)).as("spike"))
          .orderBy("event_type", "day")
      },
      Some("""WITH d AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             |    count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |j AS (SELECT a.event_type, a.day, a.n,
             |    SUM(b.n / CAST(1::BIGINT << date_diff('day', b.day, a.day) AS DOUBLE)) AS num,
             |    SUM(1.0 / CAST(1::BIGINT << date_diff('day', b.day, a.day) AS DOUBLE)) AS den
             |  FROM d a JOIN d b ON a.event_type = b.event_type
             |    AND b.day BETWEEN a.day - 13 AND a.day
             |  GROUP BY a.event_type, a.day, a.n),
             |e AS (SELECT event_type, day, n, round(num / den, 6) AS ewma,
             |    lag(num / den) OVER (PARTITION BY event_type ORDER BY day) AS prev
             |  FROM j)
             |SELECT event_type, day, CAST(n AS BIGINT) AS n, ewma,
             |  COALESCE(n > 2 * prev, false) AS spike
             |FROM e ORDER BY event_type, day""".stripMargin)),

    // q234 — MERKLE manifest of the corpus (content-addressable dataset
    // snapshot): leaf = md5 of each document, shard hash = md5 over the
    // shard's leaf hashes in doc_id order, root = md5 over the shard
    // hashes in shard order — the hierarchical form of q182's flat
    // checksums. A consumer re-hashes ONE shard to verify a delivery
    // slice, and two corpus versions diff by walking only the subtrees
    // whose hashes changed — O(changed shards), not O(corpus). Shard
    // routing is the portable id hash; every level is an ordered fold
    // over CHILD HASHES only, so the tree build moves hash-sized rows
    // (the corpus text never leaves its scan).
    QuerySpec("q234_merkle_manifest",
      (s, dir) => {
        val leaves = Tables.load(s, dir, "documents")
          .select((call_function("graft_hash32",
            col("doc_id").cast("string")) % 8).as("shard"),
            col("doc_id"), md5(col("text")).as("dh"))
        val shards = leaves.groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            md5(concat_ws("", transform(
              array_sort(collect_list(struct(col("doc_id"), col("dh")))),
              x => x.getField("dh")))).as("shard_hash"))
          .persistTracked()
        val root = shards
          .agg(md5(concat_ws("", transform(
            array_sort(collect_list(struct(col("shard"), col("shard_hash")))),
            x => x.getField("shard_hash")))).as("root_hash"))
        shards.crossJoin(broadcast(root))
          .select(col("shard"), col("n_docs"), col("shard_hash"),
            col("root_hash"))
          .orderBy("shard")
      },
      Some("""WITH l AS (SELECT
             |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8 AS shard,
             |    doc_id, md5(text) AS dh
             |  FROM documents),
             |sh AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             |    md5(string_agg(dh, '' ORDER BY doc_id)) AS shard_hash
             |  FROM l GROUP BY shard),
             |r AS (SELECT md5(string_agg(shard_hash, '' ORDER BY shard)) AS root_hash
             |  FROM sh)
             |SELECT shard, n_docs, shard_hash, root_hash
             |FROM sh, r ORDER BY shard""".stripMargin)),

    // q235 — Theil-Sen robust trend per event type: the median of all
    // pairwise day-count slopes — the estimator that shrugs off the
    // outlier days a least-squares fit (q212) chases. Slopes are single
    // divisions of exact integers (identical doubles in both engines);
    // the median is EXACT selection — row_number in (slope, day-pair)
    // total order, pick the middle one or average the middle two
    // (q219's crossing rule, no interpolation ambiguity). Pair space is
    // days²/2 PER GROUP — bounded by the time range, not the corpus
    // (the daily rollup is the only corpus-scale pass), so the
    // all-pairs join is safe at any event volume.
    QuerySpec("q235_theil_sen",
      (s, dir) => {
        val d = Tables.load(s, dir, "events")
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).cast("date").as("day"))
          .agg(count(lit(1)).as("n"))
          .persistTracked()
        val a = d.select(col("event_type"), col("day").as("da"), col("n").as("na"))
        val b = d.select(col("event_type"), col("day").as("db"), col("n").as("nb"))
        val slopes = a.join(b, "event_type")
          .filter(col("db") < col("da"))
          .select(col("event_type"), col("da"), col("db"),
            ((col("na") - col("nb")).cast("double") /
              expr("datediff(da, db)")).as("slope"))
        val w = Window.partitionBy("event_type")
          .orderBy(col("slope"), col("db"), col("da"))
        val ranked = slopes.withColumn("rk", row_number().over(w))
          .persistTracked()
        val cnt = ranked.groupBy("event_type")
          .agg(max(col("rk")).as("np"))
        ranked.join(broadcast(cnt), "event_type")
          // DIV, not `/`: Column./ on integers is DOUBLE division
          .filter(col("rk") === expr("(np + 1) DIV 2") ||
            col("rk") === expr("np DIV 2 + 1"))
          .groupBy("event_type")
          .agg(max(col("np")).cast("long").as("n_pairs"),
            round(sum(col("slope")) / count(lit(1)), 6).as("theil_slope"))
          .orderBy("event_type")
      },
      Some("""WITH d AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             |    count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |s AS (SELECT a.event_type, a.day AS da, b.day AS db,
             |    CAST(a.n - b.n AS DOUBLE) / date_diff('day', b.day, a.day) AS slope
             |  FROM d a JOIN d b ON a.event_type = b.event_type AND b.day < a.day),
             |r AS (SELECT event_type, slope,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY slope, db, da) AS rk
             |  FROM s),
             |c AS (SELECT event_type, max(rk) AS np FROM r GROUP BY event_type)
             |SELECT r.event_type, CAST(max(np) AS BIGINT) AS n_pairs,
             |  round(SUM(slope) / count(*), 6) AS theil_slope
             |FROM r JOIN c ON r.event_type = c.event_type
             |WHERE rk = (np + 1) // 2 OR rk = np // 2 + 1
             |GROUP BY r.event_type ORDER BY r.event_type""".stripMargin)),

    // q236 — SPARSE cosine similarity join over TF vectors via the
    // inverted index (the complement of q31's dense ANN and the
    // Jaccard families): pairs are generated ONLY through shared
    // tokens with 2 ≤ df ≤ 100 — the df cap is the knob that bounds
    // posting-list self-join fanout (Σ df² over the kept vocabulary,
    // the same principle as q197's rare-first prefixes; a stopword can
    // never pair). Norms ride the SAME doc-partition pass as the kept
    // postings (window, not a doc-grain broadcast join — the q197
    // lesson), and the pair aggregate carries them as functional keys.
    // Arithmetic is exact-integer to the very edge: dot and norms are
    // BIGINT sums; sqrt and one division are IEEE-exact ops over
    // identical integers, so no rounding discipline is needed before
    // the display round.
    QuerySpec("q236_sparse_cosine",
      (s, dir) => {
        val tf = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            explode(graft.functions.Text.tokens(lower(col("text")))).as("w"))
          .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        val dfx = tf.groupBy("w").agg(count(lit(1)).as("df"))
        val wDoc = Window.partitionBy("doc_id")
        val k2 = tf.join(dfx, "w").filter(col("df").between(2, 100))
          .withColumn("n2", sum(col("tf") * col("tf")).over(wDoc))
          .select(col("doc_id"), col("w"), col("tf"), col("n2"))
          .persistTracked()
        val cos = col("dot").cast("double") /
          (sqrt(col("n2a").cast("double")) * sqrt(col("n2b").cast("double")))
        k2.select(col("w"), col("doc_id").as("doc_a"),
            col("tf").as("tfa"), col("n2").as("n2a"))
          .join(k2.select(col("w"), col("doc_id").as("doc_b"),
            col("tf").as("tfb"), col("n2").as("n2b")), "w")
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b", "n2a", "n2b")
          .agg(sum(col("tfa") * col("tfb")).as("dot"))
          .filter(cos >= 0.5)
          .select(col("doc_a"), col("doc_b"), round(cos, 6).as("cos_sim"))
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
             |  FROM (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
             |        FROM documents)
             |  GROUP BY doc_id, w),
             |dfx AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
             |kept AS (SELECT tf.doc_id, tf.w, tf.tf FROM tf JOIN dfx USING (w)
             |  WHERE df BETWEEN 2 AND 100),
             |nrm AS (SELECT doc_id, CAST(SUM(tf*tf) AS BIGINT) AS n2
             |  FROM kept GROUP BY doc_id),
             |k2 AS (SELECT k.doc_id, k.w, k.tf, n.n2 FROM kept k JOIN nrm n USING (doc_id)),
             |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |    a.n2 AS n2a, b.n2 AS n2b, CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
             |  FROM k2 a JOIN k2 b ON a.w = b.w AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2, 3, 4)
             |SELECT doc_a, doc_b,
             |  round(dot / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))), 6) AS cos_sim
             |FROM p
             |WHERE dot / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))) >= 0.5
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // q237 — grid-binned nearest neighbor (the spatial-join shape):
    // entities get deterministic integer coordinates from the portable
    // hash; each probe point fans to its 3×3 neighborhood of 5000-unit
    // grid cells and equi-joins candidates keyed by their own cell —
    // the standard replacement for the all-pairs distance join, with
    // cell width as the bounded-search-radius knob (a probe with no
    // candidate in its neighborhood is reported unmatched-by-omission,
    // the documented semantics of radius-bounded matching). Distances
    // are exact BIGINT squared-Euclidean — no trig, no floats, nothing
    // to diverge; the argmin is a (d2, id) rank.
    QuerySpec("q237_grid_nearest",
      (s, dir) => {
        val h = (p: String, c: org.apache.spark.sql.Column) =>
          call_function("graft_hash32", concat(lit(p), c.cast("string")))
        val cust = Tables.load(s, dir, "customer")
          .select(col("c_custkey"),
            (h("C", col("c_custkey")) % 100000).as("cx"),
            (h("D", col("c_custkey")) % 100000).as("cy"))
        val supp = Tables.load(s, dir, "supplier")
          .select(col("s_suppkey"),
            (h("S", col("s_suppkey")) % 100000).as("sx"),
            (h("T", col("s_suppkey")) % 100000).as("sy"))
        val custCells = cust
          .withColumn("gx", explode(expr("sequence(cx DIV 5000 - 1, cx DIV 5000 + 1)")))
          .withColumn("gy", explode(expr("sequence(cy DIV 5000 - 1, cy DIV 5000 + 1)")))
        val suppCells = supp
          .withColumn("gx", expr("sx DIV 5000"))
          .withColumn("gy", expr("sy DIV 5000"))
        val d2 = (col("cx") - col("sx")) * (col("cx") - col("sx")) +
          (col("cy") - col("sy")) * (col("cy") - col("sy"))
        val wc = Window.partitionBy("c_custkey")
          .orderBy(col("d2"), col("s_suppkey"))
        custCells.join(suppCells, Seq("gx", "gy"))
          .select(col("c_custkey"), col("s_suppkey"), d2.as("d2"))
          .withColumn("rn", row_number().over(wc)).filter(col("rn") === 1)
          .select(col("c_custkey"), col("s_suppkey"), col("d2"))
          .orderBy("c_custkey")
      },
      Some("""WITH c AS (SELECT c_custkey,
             |    CAST('0x'||substr(md5('C'||CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 100000 AS cx,
             |    CAST('0x'||substr(md5('D'||CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 100000 AS cy
             |  FROM customer),
             |s AS (SELECT s_suppkey,
             |    CAST('0x'||substr(md5('S'||CAST(s_suppkey AS VARCHAR)),1,8) AS BIGINT) % 100000 AS sx,
             |    CAST('0x'||substr(md5('T'||CAST(s_suppkey AS VARCHAR)),1,8) AS BIGINT) % 100000 AS sy
             |  FROM supplier),
             |cand AS (SELECT c.c_custkey, s.s_suppkey,
             |    (c.cx - s.sx)*(c.cx - s.sx) + (c.cy - s.sy)*(c.cy - s.sy) AS d2
             |  FROM c JOIN s
             |    ON (s.sx // 5000) BETWEEN (c.cx // 5000) - 1 AND (c.cx // 5000) + 1
             |   AND (s.sy // 5000) BETWEEN (c.cy // 5000) - 1 AND (c.cy // 5000) + 1),
             |r AS (SELECT c_custkey, s_suppkey, d2,
             |    row_number() OVER (PARTITION BY c_custkey ORDER BY d2, s_suppkey) AS rn
             |  FROM cand)
             |SELECT c_custkey, s_suppkey, CAST(d2 AS BIGINT) AS d2
             |FROM r WHERE rn = 1 ORDER BY c_custkey""".stripMargin)),

    // q281 — semi-supervised LABEL PROPAGATION (2 synchronous clamped
    // rounds): 10% of entities carry a ground-truth label; the rest
    // take the majority label of their spatial neighbors (q237's
    // grid-binned radius graph — per-cell equi-join, never an
    // all-pairs), ties to the smallest label, seeds clamped. The
    // training-data op this models: propagating sparse human labels
    // over a similarity graph to bootstrap a labeled corpus. Scale:
    // the edge list is built ONCE and persisted (bounded degree via
    // the radius), each round is one join + one argmax aggregate —
    // the winner is a max(struct(count, -label)) with NO per-node
    // window sort. Output: final label + the round that first labeled
    // each node ('none' = unreachable from any seed in 2 hops).
    QuerySpec("q281_label_propagation",
      (s, dir) => {
        val h = (p: String, c: org.apache.spark.sql.Column) =>
          call_function("graft_hash32", concat(lit(p), c.cast("string")))
        val nodes = Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("key"),
            (h("C", col("c_custkey")) % 100000).as("cx"),
            (h("D", col("c_custkey")) % 100000).as("cy"),
            when(col("c_custkey") % 10 === 0, col("c_nationkey").cast("int"))
              .as("seed"))
          .persistTracked()
        val aSide = nodes
          .withColumn("gx", explode(expr("sequence(cx DIV 5000 - 1, cx DIV 5000 + 1)")))
          .withColumn("gy", explode(expr("sequence(cy DIV 5000 - 1, cy DIV 5000 + 1)")))
          .select(col("key").as("ak"), col("cx").as("ax"), col("cy").as("ay"),
            col("gx"), col("gy"))
        val bSide = nodes
          .select(col("key").as("bk"), col("cx").as("bx"), col("cy").as("by"),
            expr("cx DIV 5000").as("gx"), expr("cy DIV 5000").as("gy"))
        val d2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
          (col("ay") - col("by")) * (col("ay") - col("by"))
        val edges = aSide.join(bSide, Seq("gx", "gy"))
          .filter(d2 <= 9000000L && col("ak") =!= col("bk"))
          .select(col("ak"), col("bk"))
          .persistTracked()
        // one synchronous round: majority label over labeled neighbors,
        // tie → smallest label; seeds clamped; unreached keep previous
        def round(labels: org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame = {
          val w = edges
            .join(labels.filter(col("lab").isNotNull)
              .select(col("key").as("bk"), col("lab")), "bk")
            .groupBy("ak", "lab").agg(count(lit(1)).as("c"))
            .groupBy("ak")
            .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
            .select(col("ak").as("key"), (-col("m.nl")).cast("int").as("win"))
          nodes.join(labels.withColumnRenamed("lab", "prev"), "key")
            .join(w, Seq("key"), "left")
            .select(col("key"),
              coalesce(col("seed"), col("win"), col("prev")).as("lab"))
        }
        val l0 = nodes.select(col("key"), col("seed").as("lab"))
        val l1 = round(l0).persistTracked()
        val l2 = round(l1)
        nodes.join(l1.withColumnRenamed("lab", "lab1"), "key")
          .join(l2.withColumnRenamed("lab", "lab2"), "key")
          .select(col("key").as("c_custkey"), col("lab2").as("label"),
            when(col("seed").isNotNull, "seed")
              .when(col("lab1").isNotNull, "round1")
              .when(col("lab2").isNotNull, "round2")
              .otherwise("none").as("src"))
          .orderBy("c_custkey")
      },
      Some("""WITH n AS (SELECT c_custkey AS key,
             |    CAST('0x'||substr(md5('C'||CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 100000 AS cx,
             |    CAST('0x'||substr(md5('D'||CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 100000 AS cy,
             |    CASE WHEN c_custkey % 10 = 0 THEN c_nationkey END AS seed
             |  FROM customer),
             |e AS (SELECT a.key AS ak, b.key AS bk FROM n a JOIN n b
             |  ON (b.cx // 5000) BETWEEN (a.cx // 5000) - 1 AND (a.cx // 5000) + 1
             |  AND (b.cy // 5000) BETWEEN (a.cy // 5000) - 1 AND (a.cy // 5000) + 1
             |  AND (a.cx-b.cx)*(a.cx-b.cx) + (a.cy-b.cy)*(a.cy-b.cy) <= 9000000
             |  AND a.key <> b.key),
             |l0 AS (SELECT key, seed AS lab FROM n),
             |v1 AS (SELECT e.ak, l0.lab, count(*) AS c FROM e JOIN l0 ON e.bk = l0.key
             |  WHERE l0.lab IS NOT NULL GROUP BY 1, 2),
             |w1 AS (SELECT ak, lab FROM (SELECT ak, lab,
             |    row_number() OVER (PARTITION BY ak ORDER BY c DESC, lab) AS rn FROM v1)
             |  WHERE rn = 1),
             |l1 AS (SELECT n.key, COALESCE(n.seed, w1.lab) AS lab
             |  FROM n LEFT JOIN w1 ON n.key = w1.ak),
             |v2 AS (SELECT e.ak, l1.lab, count(*) AS c FROM e JOIN l1 ON e.bk = l1.key
             |  WHERE l1.lab IS NOT NULL GROUP BY 1, 2),
             |w2 AS (SELECT ak, lab FROM (SELECT ak, lab,
             |    row_number() OVER (PARTITION BY ak ORDER BY c DESC, lab) AS rn FROM v2)
             |  WHERE rn = 1),
             |l2 AS (SELECT n.key, COALESCE(n.seed, w2.lab, l1.lab) AS lab
             |  FROM n LEFT JOIN w2 ON n.key = w2.ak LEFT JOIN l1 ON n.key = l1.key)
             |SELECT n.key AS c_custkey, CAST(l2.lab AS INTEGER) AS label,
             |  CASE WHEN n.seed IS NOT NULL THEN 'seed'
             |       WHEN l1.lab IS NOT NULL THEN 'round1'
             |       WHEN l2.lab IS NOT NULL THEN 'round2' ELSE 'none' END AS src
             |FROM n JOIN l2 ON n.key = l2.key LEFT JOIN l1 ON n.key = l1.key
             |ORDER BY c_custkey""".stripMargin)),

    // q238 — word2vec-style NEGATIVE SAMPLING by inverse-CDF lookup,
    // composed from two existing scale primitives: the unigram
    // distribution's cumulative weights come from ops.PrefixSum (range-
    // partitioned two-phase cumsum — vocabulary-scale, no global
    // window), and each probe's deterministic draw u = hash % W lands
    // in its token's [lo, hi) interval via ops.RangeJoin's binned
    // point-in-interval join (hash-join shape, never a nested-loop over
    // the vocabulary — at 100 TB the vocabulary is itself too large to
    // broadcast). All-integer weights and draws: the sampled token is a
    // pure arithmetic fact both engines agree on exactly. 4 draws per
    // document — the per-positive negatives a contrastive trainer
    // consumes.
    QuerySpec("q238_negative_sampling",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val tk = docs.select(col("doc_id"),
          explode(graft.functions.Text.tokens(lower(col("text")))).as("w"))
        val dfx = tk.groupBy("w").agg(count(lit(1)).as("c"))
        val v = graft.ops.PrefixSum.cumsum(dfx, "w", "c", "hi", 32)
          .select(col("w").as("neg_token"),
            (col("hi") - col("c")).as("lo"), col("hi"))
          .persistTracked()
        val wt = v.agg(max(col("hi")).as("wt"))
        val probes = docs.select(col("doc_id"))
          .select(col("doc_id"), explode(expr("sequence(0, 3)")).as("j"))
          .crossJoin(broadcast(wt))
          .select(col("doc_id"), col("j").cast("int").as("j"),
            (call_function("graft_hash32",
              concat_ws(":", col("doc_id"), col("j"))) % col("wt")).as("u"))
        graft.ops.RangeJoin.pointInInterval(probes, "u", v, "lo", "hi", 1024)
          .select(col("doc_id"), col("j"), col("neg_token"), col("u"))
          .orderBy("doc_id", "j")
      },
      Some("""WITH tk AS (SELECT doc_id,
             |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
             |  FROM documents),
             |dfx AS (SELECT w, count(*) AS c FROM tk GROUP BY w),
             |v AS (SELECT w, c,
             |    CAST(SUM(c) OVER (ORDER BY w ROWS UNBOUNDED PRECEDING) - c AS BIGINT) AS lo,
             |    CAST(SUM(c) OVER (ORDER BY w ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
             |  FROM dfx),
             |t AS (SELECT CAST(SUM(c) AS BIGINT) AS wt FROM dfx),
             |p AS (SELECT doc_id, j,
             |    CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':'||CAST(j AS VARCHAR)),1,8) AS BIGINT) % wt AS u
             |  FROM documents, UNNEST(generate_series(0, 3)) s(j), t)
             |SELECT p.doc_id, CAST(p.j AS INTEGER) AS j, v.w AS neg_token, p.u
             |FROM p JOIN v ON p.u >= v.lo AND p.u < v.hi
             |ORDER BY doc_id, j""".stripMargin)),

    // q239 — distinctive vocabulary per source via weighted log-odds
    // with a Dirichlet prior (Monroe, Colaresi & Quinn '08 "Fightin'
    // Words"): the corpus-curation question "what characterizes this
    // subcorpus" answered with a variance-stabilized z-score instead of
    // raw TF-IDF (which over-ranks rare noise). Counts are exact; each
    // score is a fixed chain of ln/sqrt over identical exact integers,
    // rounded BEFORE ranking (q74's log discipline) so rank order
    // cannot diverge between engines. Vocabulary-grain joins +
    // broadcast scalars — never corpus-scale state.
    QuerySpec("q239_log_odds_topics",
      (s, dir) => {
        val tk = Tables.load(s, dir, "documents")
          .select(col("source"),
            explode(graft.functions.Text.tokens(lower(col("text")))).as("w"))
        val yc = tk.groupBy("source", "w").agg(count(lit(1)).as("y"))
          .persistTracked()
        val tot = yc.groupBy("w").agg(sum(col("y")).as("yall"))
        val ns = yc.groupBy("source").agg(sum(col("y")).as("n"))
        val nn = yc.agg(sum(col("y")).as("ntot"))
        val vv = tot.agg(count(lit(1)).as("v"))
        val delta =
          log((col("y") + 1.0) / (col("n") + col("v") - col("y") - 1.0)) -
          log((col("yall") - col("y") + 1.0) /
            (col("ntot") - col("n") + col("v") - (col("yall") - col("y")) - 1.0))
        val varc = lit(1.0) / (col("y") + 1.0) +
          lit(1.0) / (col("yall") - col("y") + 1.0)
        val wr = Window.partitionBy("source")
          .orderBy(col("zscore").desc, col("w"))
        yc.join(tot, "w").join(broadcast(ns), "source")
          .crossJoin(broadcast(nn)).crossJoin(broadcast(vv))
          .select(col("source"), col("w"),
            round(delta / sqrt(varc), 6).as("zscore"))
          .withColumn("rnk", row_number().over(wr).cast("int"))
          .filter(col("rnk") <= 5)
          .select(col("source"), col("rnk"), col("w").as("token"), col("zscore"))
          .orderBy("source", "rnk")
      },
      Some("""WITH tk AS (SELECT source,
             |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
             |  FROM documents),
             |yc AS (SELECT source, w, count(*) AS y FROM tk GROUP BY 1, 2),
             |tot AS (SELECT w, CAST(SUM(y) AS BIGINT) AS yall FROM yc GROUP BY w),
             |ns AS (SELECT source, CAST(SUM(y) AS BIGINT) AS n FROM yc GROUP BY source),
             |nn AS (SELECT CAST(SUM(y) AS BIGINT) AS ntot FROM yc),
             |vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM tot),
             |sc AS (SELECT yc.source, yc.w,
             |    ln((yc.y + 1.0) / (ns.n + vv.v - yc.y - 1.0))
             |      - ln((tot.yall - yc.y + 1.0) / (nn.ntot - ns.n + vv.v - (tot.yall - yc.y) - 1.0)) AS delta,
             |    1.0/(yc.y + 1.0) + 1.0/(tot.yall - yc.y + 1.0) AS var
             |  FROM yc JOIN tot USING (w) JOIN ns USING (source), nn, vv),
             |z AS (SELECT source, w, round(delta / sqrt(var), 6) AS zscore FROM sc),
             |r AS (SELECT source, w, zscore,
             |    CAST(row_number() OVER (PARTITION BY source
             |      ORDER BY zscore DESC, w) AS INTEGER) AS rnk FROM z)
             |SELECT source, rnk, w AS token, zscore
             |FROM r WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin)),

    // q240 — CUPED variance reduction (Deng et al. '13): the A/B-test
    // estimator that adjusts each user's experiment-period metric by
    // their PRE-period metric, cutting variance without biasing the
    // arm difference. theta = cov(pre, post)/var(pre) assembles from
    // EXACT decimal raw moments (q212's regression discipline — decimal
    // products and sums are associative, so 1000-executor merge order
    // cannot shift them), and the adjusted per-arm mean uses linearity
    // (mean(post − θ·(pre − mx)) = my − θ·(mx_arm − mx)) so the final
    // numbers are a short fixed IEEE chain over exact sums — no
    // per-user float summation anywhere.
    QuerySpec("q240_cuped",
      (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(18, 2)
        val cut = lit("1998-01-01").cast("timestamp")
        val b = Tables.load(s, dir, "orders")
          .groupBy(col("o_custkey"), (col("o_custkey") % 2).as("arm"))
          .agg(
            sum(when(col("o_orderdate") < cut, col("o_totalprice").cast(dec))
              .otherwise(lit(0).cast(dec))).cast(dec).as("pre_d"),
            sum(when(col("o_orderdate") >= cut, col("o_totalprice").cast(dec))
              .otherwise(lit(0).cast(dec))).cast(dec).as("post_d"))
          .persistTracked()
        val m = b.agg(count(lit(1)).as("n"),
          sum(col("pre_d")).cast("double").as("sx"),
          sum(col("post_d")).cast("double").as("sy"),
          sum(col("pre_d") * col("post_d")).cast("double").as("sxy"),
          sum(col("pre_d") * col("pre_d")).cast("double").as("sxx"))
        val arm = b.groupBy("arm").agg(count(lit(1)).as("n_users"),
          sum(col("pre_d")).cast("double").as("sxa"),
          sum(col("post_d")).cast("double").as("sya"))
        val theta = (col("sxy") - col("sx") * col("sy") / col("n")) /
          (col("sxx") - col("sx") * col("sx") / col("n"))
        arm.crossJoin(broadcast(m))
          .withColumn("theta", theta)
          .select(col("arm"), col("n_users"),
            round(col("sya") / col("n_users"), 6).as("raw_mean"),
            round(col("sya") / col("n_users") - col("theta") *
              (col("sxa") / col("n_users") - col("sx") / col("n")), 6)
              .as("cuped_mean"))
          .orderBy("arm")
      },
      Some("""WITH b AS (SELECT o_custkey, o_custkey % 2 AS arm,
             |    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
             |      THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS pre_d,
             |    CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
             |      THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS post_d
             |  FROM orders GROUP BY 1, 2),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(SUM(pre_d) AS DOUBLE) AS sx,
             |    CAST(SUM(post_d) AS DOUBLE) AS sy,
             |    CAST(SUM(pre_d * post_d) AS DOUBLE) AS sxy,
             |    CAST(SUM(pre_d * pre_d) AS DOUBLE) AS sxx
             |  FROM b),
             |a AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
             |    CAST(SUM(pre_d) AS DOUBLE) AS sxa,
             |    CAST(SUM(post_d) AS DOUBLE) AS sya
             |  FROM b GROUP BY arm)
             |SELECT arm, n_users,
             |  round(sya / n_users, 6) AS raw_mean,
             |  round(sya / n_users - ((sxy - sx*sy/n) / (sxx - sx*sx/n)) *
             |    (sxa / n_users - sx / n), 6) AS cuped_mean
             |FROM a, m ORDER BY arm""".stripMargin)),

    // q241 — behavioral pattern matching over assembled journeys (the
    // MATCH_RECOGNIZE-shaped question "how many users exhibit this
    // sequence"): each user's event-type journey (q184's deterministic
    // total order) is matched against anchored/repeat regexes. Patterns
    // stay in the Java∩RE2 common subset (anchors, escaped literals,
    // bounded groups) so Spark's regex engine and the oracle's agree by
    // construction. One user-grain shuffle; the pattern fanout is a
    // 4-element broadcast literal.
    QuerySpec("q241_journey_regex",
      (s, dir) => {
        val patterns = Seq("^signup", "error$", "view\\|view",
          "error(\\|[a-z]+)*\\|purchase")
        val jo = Tables.load(s, dir, "events")
          .groupBy("user_id")
          .agg(concat_ws("|", transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))),
            x => x.getField("event_type"))).as("j"))
        val agg = jo.agg(
          sum(when(col("j").rlike(patterns.head), 1L).otherwise(0L)).as("c0"),
          patterns.tail.zipWithIndex.map { case (p, i) =>
            sum(when(col("j").rlike(p), 1L).otherwise(0L)).as(s"c${i + 1}")
          }: _*)
        agg.select(explode(array(patterns.zipWithIndex.map { case (p, i) =>
            struct(lit(p).as("pattern"), col(s"c$i").as("n_users"))
          }: _*)).as("x"))
          .select(col("x.pattern").as("pattern"), col("x.n_users").as("n_users"))
          .orderBy("pattern")
      },
      Some("""WITH jo AS (SELECT user_id,
             |    string_agg(event_type, '|' ORDER BY ts, event_id, event_type) AS j
             |  FROM events GROUP BY user_id)
             |SELECT p.pattern,
             |  CAST(SUM(CASE WHEN regexp_matches(j, p.pattern) THEN 1 ELSE 0 END) AS BIGINT) AS n_users
             |FROM jo CROSS JOIN (SELECT unnest(['^signup', 'error$', 'view\|view',
             |    'error(\|[a-z]+)*\|purchase']) AS pattern) p
             |GROUP BY p.pattern ORDER BY p.pattern""".stripMargin)),

    // q242 — incremental aggregate MAINTENANCE (the delta-merge algebra
    // every incremental pipeline runs): a base aggregate plus a delta
    // aggregate merge into the full answer without re-reading the base
    // — count/sum add, min/max combine, means derive — and the
    // `consistent` column PROVES merged == full recompute per group
    // under the oracle gate. Sums are fixed-scale decimal, so the
    // base+delta merge is exactly the full sum at any split point (the
    // property that makes foreachBatch state maintenance sound —
    // q115/q186 run this algebra continuously; this query pins it).
    QuerySpec("q242_incremental_agg",
      (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(18, 2)
        val cutTs = lit("1998-01-01").cast("timestamp")
        val o = Tables.load(s, dir, "orders")
          .select(col("o_orderpriority").as("grp"),
            col("o_totalprice").as("v"), col("o_orderdate"))
          .persistTracked()
        def aggOf(df: org.apache.spark.sql.DataFrame) = df.groupBy("grp")
          .agg(count(lit(1)).as("n"), sum(col("v").cast(dec)).cast(dec).as("s"),
            min(col("v")).as("mn"), max(col("v")).as("mx"))
        val base = aggOf(o.filter(col("o_orderdate") < cutTs))
        val delta = aggOf(o.filter(col("o_orderdate") >= cutTs))
        val m = base
          .select(col("grp"), col("n").as("nb"), col("s").as("sb"),
            col("mn").as("mnb"), col("mx").as("mxb"))
          .join(delta.select(col("grp"), col("n").as("nd"), col("s").as("sd"),
            col("mn").as("mnd"), col("mx").as("mxd")), Seq("grp"), "full")
          .select(col("grp"),
            (coalesce(col("nb"), lit(0L)) + coalesce(col("nd"), lit(0L))).as("n"),
            (coalesce(col("sb"), lit(0).cast(dec)) +
              coalesce(col("sd"), lit(0).cast(dec))).cast("double").as("s"),
            least(coalesce(col("mnb"), col("mnd")),
              coalesce(col("mnd"), col("mnb"))).as("mn"),
            greatest(coalesce(col("mxb"), col("mxd")),
              coalesce(col("mxd"), col("mxb"))).as("mx"))
        val full = aggOf(o).select(col("grp"), col("n").as("fn"),
          col("s").cast("double").as("fs"), col("mn").as("fmn"),
          col("mx").as("fmx"))
        m.join(full, "grp")
          .select(col("grp"), col("n"), round(col("s"), 2).as("total"),
            col("mn"), col("mx"),
            (col("n") === col("fn") && col("s") === col("fs") &&
              col("mn") === col("fmn") && col("mx") === col("fmx"))
              .as("consistent"))
          .orderBy("grp")
      },
      Some("""WITH base AS (SELECT o_orderpriority AS grp, count(*) AS n,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s,
             |    min(o_totalprice) AS mn, max(o_totalprice) AS mx
             |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 1),
             |delta AS (SELECT o_orderpriority AS grp, count(*) AS n,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s,
             |    min(o_totalprice) AS mn, max(o_totalprice) AS mx
             |  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01' GROUP BY 1),
             |merged AS (SELECT COALESCE(b.grp, d.grp) AS grp,
             |    CAST(COALESCE(b.n, 0) + COALESCE(d.n, 0) AS BIGINT) AS n,
             |    CAST(COALESCE(b.s, 0) + COALESCE(d.s, 0) AS DOUBLE) AS s,
             |    least(COALESCE(b.mn, d.mn), COALESCE(d.mn, b.mn)) AS mn,
             |    greatest(COALESCE(b.mx, d.mx), COALESCE(d.mx, b.mx)) AS mx
             |  FROM base b FULL JOIN delta d ON b.grp = d.grp),
             |full_r AS (SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s,
             |    min(o_totalprice) AS mn, max(o_totalprice) AS mx
             |  FROM orders GROUP BY 1)
             |SELECT m.grp, m.n, round(m.s, 2) AS total, m.mn, m.mx,
             |  (m.n = f.n AND m.s = f.s AND m.mn = f.mn AND m.mx = f.mx) AS consistent
             |FROM merged m JOIN full_r f ON m.grp = f.grp
             |ORDER BY m.grp""".stripMargin)),

    // q244 — per-group top-k through the NATIVE graft_topk aggregate
    // (functions/TopKAgg — a TypedImperativeAggregate carrying a
    // bounded k-element min-heap through partial aggregation): the
    // exchange moves at most k values per group per map task, where the
    // rank-window form ships every surviving row to the group's reducer
    // — the winning shape when k ≪ group size at 100 TB, and usable
    // inside rollup/cube where windows can't go. The oracle is the
    // window form: same VALUES by construction (the heap keeps exactly
    // the k largest; result array is order-canonicalized at eval).
    QuerySpec("q244_native_topk",
      (s, dir) => {
        Tables.load(s, dir, "orders")
          .groupBy(col("o_orderpriority").as("grp"))
          .agg(call_function("graft_topk",
            col("o_totalprice"), lit(3)).as("tk"))
          .select(col("grp"), posexplode(col("tk")))
          .select(col("grp"), (col("pos") + 1).cast("int").as("rnk"),
            col("col").as("v"))
          .orderBy("grp", "rnk")
      },
      Some("""WITH r AS (SELECT o_orderpriority AS grp, o_totalprice AS v,
             |    CAST(row_number() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice DESC) AS INTEGER) AS rnk
             |  FROM orders)
             |SELECT grp, rnk, v FROM r WHERE rnk <= 3 ORDER BY grp, rnk""".stripMargin)),

    // q245 — CONSISTENT entity sampling: sample the ENTITY (customer by
    // portable hash), then take every row that belongs to a sampled
    // entity — so the dev-scale slice preserves referential integrity
    // and per-entity distributions, which independent per-table
    // sampling destroys (a sampled order whose customer was not
    // sampled is an orphan). The membership filter is a pure hash
    // predicate — evaluated AT EACH TABLE'S SCAN with no coordination,
    // which is what makes the technique work across a 100 TB star:
    // every table agrees on the sample by arithmetic, not by shipping
    // a key list.
    QuerySpec("q245_consistent_sample",
      (s, dir) => {
        val sc = Tables.load(s, dir, "customer")
          .filter(call_function("graft_hash32",
            concat(lit("smp"), col("c_custkey").cast("string"))) % 10 === 0)
          .select(col("c_custkey"), col("c_mktsegment"))
        val o = Tables.load(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        sc.join(o, col("o_custkey") === col("c_custkey"), "left")
          .groupBy("c_mktsegment")
          .agg(countDistinct(col("c_custkey")).as("n_cust"),
            count(col("o_orderkey")).as("n_orders"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .orderBy("c_mktsegment")
      },
      Some("""WITH sc AS (SELECT c_custkey, c_mktsegment FROM customer
             |  WHERE CAST('0x'||substr(md5('smp'||CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 10 = 0)
             |SELECT c_mktsegment, CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_cust,
             |  CAST(count(o_orderkey) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM sc LEFT JOIN orders ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // q246 — WebDataset-style shard packing manifest: media blobs
    // (here the q120 WAV containers, length = 44 + payload) routed to
    // shards by the portable id hash, each blob's byte OFFSET within
    // its shard the exclusive running sum of lengths in doc_id order —
    // exactly the tar-offset arithmetic a sequential-read training
    // loader needs, computed corpus-side so readers can seek without
    // an index server. One shard-partitioned window pass, all-integer.
    QuerySpec("q246_webdataset_offsets",
      (s, dir) => {
        val w = Window.partitionBy("shard").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            (call_function("graft_hash32",
              col("doc_id").cast("string")) % 4).as("shard"),
            (lit(44L) + length(col("text"))).as("length"))
          .select(col("doc_id"), col("shard"),
            coalesce(sum(col("length")).over(w), lit(0L)).as("offset"),
            col("length"))
          .orderBy("doc_id")
      },
      Some("""WITH b AS (SELECT doc_id,
             |    CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 4 AS shard,
             |    CAST(44 + strlen(text) AS BIGINT) AS length FROM documents)
             |SELECT doc_id, shard,
             |  CAST(COALESCE(SUM(length) OVER (PARTITION BY shard ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset,
             |  length
             |FROM b ORDER BY doc_id""".stripMargin)),

    // q247 — the full blob-shard round trip through the CUSTOM
    // DataSource V2 ([[graft.sources.BlobShardDataSource]]): synthesize
    // the per-doc WAV containers (q120 geometry), PACK them into
    // `shard-N.bin` files (BlobShards.pack — one sequential writer per
    // shard), then SCAN them back through the V2 source — one input
    // partition per shard, shard-predicate pushdown pruning files at
    // listing, physical column pruning skipping blob bytes — and
    // decode each record's RIFF header for real. Every output column is
    // arithmetic over the corpus (q120 + q246 derivations), so the
    // oracle verifies the writer's framing, the reader's offsets, and
    // the decode in one hash compare. BlobSourceSpec pins the pruning
    // behaviors the plan can't show for a custom format.
    QuerySpec("q247_blob_shard_scan",
      (s, dir) => {
        import s.implicits._
        val out = shardDir(dir)
        graft.sources.BlobShards.pack(wavMedia(s, dir), out)
        s.read.format(classOf[graft.sources.BlobShardDataSource].getName)
          .option("path", out).load()
          .select(col("doc_id"), col("shard"), col("offset"), col("length"),
            col("media"))
          .as[(Long, Int, Long, Int, Array[Byte])]
          .mapPartitions(_.flatMap { case (id, sh, off, len, m) =>
            graft.functions.Multimodal.decodeWav(m).map {
              case (rate, chn, _, ns) => (id, sh, off, len, rate, chn, ns)
            }
          })
          .toDF("doc_id", "shard", "offset", "length", "sample_rate",
            "channels", "n_samples")
          .orderBy("doc_id")
      },
      Some("""WITH b AS (SELECT doc_id,
             |    CAST(CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 4 AS INTEGER) AS shard,
             |    CAST(44 + strlen(text) AS INTEGER) AS length,
             |    CAST(1 + doc_id % 2 AS INTEGER) AS ch,
             |    strlen(text) AS sl
             |  FROM documents)
             |SELECT doc_id, shard,
             |  CAST(12 + COALESCE(SUM(12 + length) OVER (PARTITION BY shard
             |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset,
             |  length,
             |  CAST(CASE WHEN doc_id % 3 = 0 THEN 16000 ELSE 8000 END AS INTEGER) AS sample_rate,
             |  ch AS channels,
             |  CAST(sl // (ch*2) AS BIGINT) AS n_samples
             |FROM b ORDER BY doc_id""".stripMargin)),

    // q248 — STREAMING ingest through the custom V2 connector: the
    // blob-shard source also implements MicroBatchStream (offsets =
    // byte position per shard file, clamped to a record boundary by a
    // frame-header walk — a mid-flush file size can't split a record) with
    // SupportsTriggerAvailableNow for bounded runs. readStream over the
    // packed shards → per-shard media stats, completing the connector
    // matrix: batch read, batch write (layout contract), micro-batch
    // read. BlobSourceSpec's incremental test proves the offset
    // semantics (records APPENDED to a shard between micro-batches
    // arrive exactly once); here the oracle pins the full-corpus
    // content arithmetically.
    QuerySpec("q248_stream_blob_ingest",
      (s, dir) => {
        val out = shardDir(dir)
        graft.sources.BlobShards.pack(wavMedia(s, dir), out)
        val stream = s.readStream
          .format(classOf[graft.sources.BlobShardDataSource].getName)
          .option("path", out).load()
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("length").cast("long")).as("total_bytes"),
            min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        val mem = "stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
        val ck = Scratch.streamCk()
        val q = stream.writeStream.format("memory").queryName(mem)
          .option("checkpointLocation", ck)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        Scratch.dropCk(ck)
        s.table(mem).orderBy("shard")
      },
      Some("""WITH b AS (SELECT doc_id,
             |    CAST(CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 4 AS INTEGER) AS shard,
             |    CAST(44 + strlen(text) AS BIGINT) AS length
             |  FROM documents)
             |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(length) AS BIGINT) AS total_bytes,
             |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
             |FROM b GROUP BY shard ORDER BY shard""".stripMargin)),

    // q249 — FEDERATED join: the custom V2 source participates in a
    // join with the parquet corpus — blob metadata (doc_id, shard,
    // length) joined to documents for a per-language media-footprint
    // rollup. The join probes the shard files with `media` UNPROJECTED,
    // so the custom source's physical column pruning keeps the scan at
    // header-sized IO (BlobSourceSpec pins that behavior) — the
    // cross-format metadata query a multimodal curation pipeline runs
    // constantly without touching a byte of payload.
    QuerySpec("q249_federated_media_stats",
      (s, dir) => {
        val out = shardDir(dir)
        graft.sources.BlobShards.pack(wavMedia(s, dir), out)
        val meta = s.read
          .format(classOf[graft.sources.BlobShardDataSource].getName)
          .option("path", out).load()
          .select(col("doc_id"), col("shard"), col("length"))
        Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"))
          .join(meta, "doc_id")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("length").cast("long")).as("media_bytes"),
            countDistinct(col("shard")).as("n_shards"))
          .orderBy("lang")
      },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(44 + strlen(text)) AS BIGINT) AS media_bytes,
             |  CAST(count(DISTINCT CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 4) AS BIGINT) AS n_shards
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // q250 — BPE APPLICATION, completing q94's training half: the
    // learned top-20 merge batch is applied to the word VOCABULARY
    // (corpus-sublinear — the same grain production BPE works at; the
    // corpus totals come back through the frequency weights). Encoding
    // is piece-boundary SAFE: pieces are pipe-delimited ("|j|o|i|n|")
    // and a merge rewrites "|j|o|"→"|jo|", so a pattern can never match
    // INSIDE a previously merged multi-char piece (the flat-string
    // naive form would). Merges apply greedily in rank order, one
    // left-to-right non-overlapping pass each — the same literal
    // replace semantics in both engines, so the per-word piece counts
    // are exact. The 20-row merge list is bounded vocabulary-grain
    // driver control flow (the q168 rule), exactly what a trainer
    // broadcasts per round.
    QuerySpec("q250_bpe_encode",
      (s, dir) => {
        val wc = Tables.load(s, dir, "documents")
          .select(explode(graft.functions.Text.tokens(lower(col("text"))))
            .as("word"))
          .groupBy("word").agg(count(lit(1)).as("cnt"))
          .persistTracked()
        val merges = wc
          .filter(length(col("word")) >= 2)
          .select(col("cnt"), explode(expr(
            "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
            .as("pair"))
          .groupBy("pair").agg(sum(col("cnt")).as("weight"))
          .orderBy(col("weight").desc, col("pair"))
          .limit(20)
          .collect().map(_.getString(0)).toSeq
        // Java split("", -1) keeps a trailing empty token (DuckDB's
        // string_split does not) — filter it before joining
        val spaced = expr(
          "concat('|', concat_ws('|', filter(split(word, ''), c -> c <> '')), '|')")
        val encoded = merges.foldLeft(spaced) { (acc, pr) =>
          replace(acc,
            lit("|" + pr.charAt(0) + "|" + pr.charAt(1) + "|"),
            lit("|" + pr + "|"))
        }
        wc.withColumn("s", encoded)
          .withColumn("pieces",
            length(col("s")) - length(replace(col("s"), lit("|"), lit(""))) - 1)
          .groupBy(length(col("word")).as("word_len"))
          .agg(count(lit(1)).as("n_words"), sum(col("cnt")).as("total_freq"),
            sum(col("pieces").cast("long") * col("cnt")).as("total_pieces"),
            round(sum(length(col("word")).cast("long") * col("cnt")).cast("double") /
              sum(col("pieces").cast("long") * col("cnt")), 6).as("chars_per_piece"))
          .orderBy("word_len")
      },
      Some("""WITH RECURSIVE w AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
             |  FROM documents),
             |wc AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
             |p AS (SELECT substring(word, i, 2) AS pair, cnt
             |      FROM wc, UNNEST(generate_series(1, len(word) - 1)) AS t(i)
             |      WHERE len(word) >= 2),
             |merges AS (SELECT pair,
             |    CAST(row_number() OVER (ORDER BY SUM(cnt) DESC, pair) AS INTEGER) AS rnk
             |  FROM p GROUP BY pair ORDER BY SUM(cnt) DESC, pair LIMIT 20),
             |enc AS (
             |  SELECT word, cnt,
             |    '|' || array_to_string(string_split(word, ''), '|') || '|' AS s, 0 AS step
             |  FROM wc
             |  UNION ALL
             |  SELECT e.word, e.cnt,
             |    replace(e.s,
             |      '|' || substring(m.pair, 1, 1) || '|' || substring(m.pair, 2, 1) || '|',
             |      '|' || m.pair || '|'),
             |    e.step + 1
             |  FROM enc e JOIN merges m ON m.rnk = e.step + 1),
             |f AS (SELECT word, cnt, s,
             |    strlen(s) - strlen(replace(s, '|', '')) - 1 AS pieces
             |  FROM enc WHERE step = 20)
             |SELECT CAST(strlen(word) AS INTEGER) AS word_len,
             |  CAST(count(*) AS BIGINT) AS n_words,
             |  CAST(SUM(cnt) AS BIGINT) AS total_freq,
             |  CAST(SUM(pieces * cnt) AS BIGINT) AS total_pieces,
             |  round(CAST(SUM(strlen(word) * cnt) AS DOUBLE) / SUM(pieces * cnt), 6) AS chars_per_piece
             |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q251 — Cohen's kappa inter-annotator agreement: the label-quality
    // gate every human- or model-labeled dataset passes before
    // training. The second annotator is a deterministic 70%-agreement
    // perturbation of the label column (portable hash — both engines
    // derive the identical assignment), and kappa is computed in the
    // ALL-INTEGER form κ = (n·agree − Σ rowₖ·colₖ)/(n² − Σ rowₖ·colₖ):
    // exact counts to one final division, so no float chain exists to
    // diverge. Confusion matrix is label-grain (k² rows) — corpus-size
    // independent after the one counting pass.
    QuerySpec("q251_cohens_kappa",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val nl = emb.agg(countDistinct(col("label")).as("k"))
        val h = (p: String) => call_function("graft_hash32",
          concat(lit(p), col("vec_id").cast("string")))
        val ann = emb.crossJoin(broadcast(nl))
          .select(col("label").as("a"),
            when(h("ann:") % 10 < 7, col("label"))
              .otherwise(((col("label") + 1 + h("alt:") % (col("k") - 1))
                % col("k")).cast("int")).as("b"))
        val conf = ann.groupBy("a", "b").agg(count(lit(1)).as("c"))
          .persistTracked()
        val tot = conf.agg(sum(col("c")).as("n"),
          sum(when(col("a") === col("b"), col("c")).otherwise(0L)).as("agree"))
        val marg = conf.groupBy("a").agg(sum(col("c")).as("sa"))
          .join(conf.groupBy("b").agg(sum(col("c")).as("sb")),
            col("a") === col("b"))
          .agg(sum(col("sa") * col("sb")).as("cross_sum"))
        tot.crossJoin(broadcast(marg))
          .select(col("n"), col("agree"),
            round(col("agree").cast("double") / col("n"), 6).as("po"),
            round(col("cross_sum").cast("double") / (col("n") * col("n")), 6).as("pe"),
            round((col("n") * col("agree") - col("cross_sum")).cast("double") /
              (col("n") * col("n") - col("cross_sum")), 6).as("kappa"))
      },
      Some("""WITH nl AS (SELECT CAST(count(DISTINCT label) AS BIGINT) AS k FROM embeddings),
             |ann AS (SELECT vec_id, label AS a,
             |    CASE WHEN CAST('0x'||substr(md5('ann:'||CAST(vec_id AS VARCHAR)),1,8) AS BIGINT) % 10 < 7
             |         THEN label
             |         ELSE CAST((label + 1 + CAST('0x'||substr(md5('alt:'||CAST(vec_id AS VARCHAR)),1,8) AS BIGINT) % (k - 1)) % k AS INTEGER)
             |    END AS b
             |  FROM embeddings, nl),
             |conf AS (SELECT a, b, count(*) AS c FROM ann GROUP BY a, b),
             |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
             |    CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS agree FROM conf),
             |marg AS (SELECT CAST(SUM(ra.sa * rb.sb) AS BIGINT) AS cross_sum FROM
             |  (SELECT a, CAST(SUM(c) AS BIGINT) AS sa FROM conf GROUP BY a) ra
             |  JOIN (SELECT b, CAST(SUM(c) AS BIGINT) AS sb FROM conf GROUP BY b) rb ON ra.a = rb.b)
             |SELECT n, agree,
             |  round(CAST(agree AS DOUBLE) / n, 6) AS po,
             |  round(CAST(cross_sum AS DOUBLE) / (n * n), 6) AS pe,
             |  round(CAST(n * agree - cross_sum AS DOUBLE) / (n * n - cross_sum), 6) AS kappa
             |FROM tot, marg""".stripMargin)),

    // q253 — AUC (Mann-Whitney rank-sum form) of a score column against
    // a binary outcome — the ranking-quality readout every scoring
    // model ships with, computed EXACTLY: ties get the average rank via
    // the doubled form 2·minrank + cnt − 1 (an INTEGER), so the rank
    // sum, the U statistic, and the final AUC numerator/denominator are
    // all exact integers down to ONE division. Ranks come from the
    // value-grain distributed cumsum (ops.PrefixSum — the q219
    // machinery), never a global single-task window, so the O(n log n)
    // sort is range-partitioned at any scale.
    QuerySpec("q253_rank_auc",
      (s, dir) => {
        val b = Tables.load(s, dir, "events")
          .filter(col("value").isNotNull)
          .select(col("value").cast("double").as("v"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
        val g = b.groupBy("v")
          .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("npos"))
        val c = graft.ops.PrefixSum.cumsum(g, "v", "cnt", "hi", 32)
        c.agg(
            sum(col("npos") * (lit(2L) * (col("hi") - col("cnt") + 1) +
              col("cnt") - 1)).as("r2"),
            sum(col("npos")).as("np"),
            sum(col("cnt") - col("npos")).as("nn"))
          .select(col("np").as("n_pos"), col("nn").as("n_neg"),
            round((col("r2") - col("np") * (col("np") + 1)).cast("double") /
              (lit(2L) * col("np") * col("nn")), 6).as("auc"))
      },
      Some("""WITH b AS (SELECT CAST(value AS DOUBLE) AS v,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
             |  FROM events WHERE value IS NOT NULL),
             |g AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
             |    CAST(SUM(pos) AS BIGINT) AS npos
             |  FROM b GROUP BY v),
             |c AS (SELECT v, cnt, npos,
             |    SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS hi FROM g),
             |r AS (SELECT CAST(SUM(npos * (2*(hi - cnt + 1) + cnt - 1)) AS BIGINT) AS r2,
             |    CAST(SUM(npos) AS BIGINT) AS np,
             |    CAST(SUM(cnt - npos) AS BIGINT) AS nn FROM c)
             |SELECT np AS n_pos, nn AS n_neg,
             |  round(CAST(r2 - np * (np + 1) AS DOUBLE) / (2 * np * nn), 6) AS auc
             |FROM r""".stripMargin)),

    // q254 — missing-value IMPUTATION with a ground-truth audit: a
    // deterministic 10% hash mask simulates the nulls, the per-group
    // EXACT median of the observed rows fills them (the q219 crossing
    // rule — one value or the mean of the middle two, no interpolation
    // ambiguity), and because the mask is synthetic the TRUE values are
    // known, so mean-absolute-error measures the imputer under the
    // oracle gate — the data-repair op plus its quality readout in one
    // pass structure. Error sums go through fixed-scale decimals (the
    // Stable rule) so partial-merge order can't shift them.
    QuerySpec("q254_imputation",
      (s, dir) => {
        val b = Tables.load(s, dir, "events")
          .select(col("event_type"), col("event_id"),
            col("value").cast("double").as("v"),
            (call_function("graft_hash32", concat(lit("msk:"),
              col("event_id").cast("string"))) % 10 === 0).as("masked"))
          .persistTracked()
        val w = Window.partitionBy("event_type").orderBy("v", "event_id")
        val obs = b.filter(!col("masked"))
          .withColumn("rk", row_number().over(w))
        val n = obs.groupBy("event_type").agg(max(col("rk")).as("cnt"))
        val med = obs.join(broadcast(n), "event_type")
          .filter(col("rk") === expr("(cnt + 1) DIV 2") ||
            col("rk") === expr("cnt DIV 2 + 1"))
          .groupBy("event_type")
          .agg((sum(col("v")) / count(lit(1))).as("median_imputed"))
        val dec = org.apache.spark.sql.types.DecimalType(18, 9)
        b.join(broadcast(med), "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"),
            sum(when(col("masked"),
              abs(col("v") - col("median_imputed")).cast(dec))
              .otherwise(lit(0).cast(dec))).cast("double").as("sae"),
            first(col("median_imputed")).as("mi"))
          .select(col("event_type"), col("n_total"), col("n_masked"),
            round(col("mi"), 6).as("median_imputed"),
            round(col("sae") / col("n_masked"), 6).as("mean_abs_err"))
          .orderBy("event_type")
      },
      Some("""WITH b AS (SELECT event_type, event_id, CAST(value AS DOUBLE) AS v,
             |    CAST('0x'||substr(md5('msk:'||CAST(event_id AS VARCHAR)),1,8) AS BIGINT) % 10 = 0 AS masked
             |  FROM events),
             |obs AS (SELECT event_type, v,
             |    row_number() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rk
             |  FROM b WHERE NOT masked),
             |n AS (SELECT event_type, CAST(max(rk) AS BIGINT) AS cnt
             |  FROM obs GROUP BY event_type),
             |med AS (SELECT o.event_type,
             |    CAST(SUM(o.v) / count(*) AS DOUBLE) AS median_imputed
             |  FROM obs o JOIN n ON o.event_type = n.event_type
             |  WHERE o.rk = (n.cnt + 1) // 2 OR o.rk = n.cnt // 2 + 1
             |  GROUP BY o.event_type),
             |e AS (SELECT b.event_type,
             |    CAST(count(*) AS BIGINT) AS n_total,
             |    CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
             |    CAST(SUM(CASE WHEN masked THEN CAST(abs(b.v - m.median_imputed) AS DECIMAL(18,9))
             |             ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS sae
             |  FROM b JOIN med m ON b.event_type = m.event_type
             |  GROUP BY b.event_type)
             |SELECT e.event_type, n_total, n_masked,
             |  round(m.median_imputed, 6) AS median_imputed,
             |  round(sae / n_masked, 6) AS mean_abs_err
             |FROM e JOIN med m ON e.event_type = m.event_type
             |ORDER BY e.event_type""".stripMargin)),

    // q257 — A/B test POWER ANALYSIS (experiment DESIGN, closing the
    // experimentation arc: q257 sizes the test, q190 reads it out, q240
    // tightens it): required n per arm for a 5%-of-mean minimum
    // detectable effect at α=0.05 two-sided, 80% power — the classic
    // 2(z_{α/2}+z_β)²σ²/δ² formula over the metric's EXACT decimal raw
    // moments (q212 discipline). The z-constant square is computed once
    // in Scala and interpolated into both engines (NOTES rule 7); the
    // rest is a short fixed IEEE chain over identical exact sums, and
    // ceil of identical doubles is the identical integer.
    QuerySpec("q257_power_analysis",
      (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(18, 6)
        val m = Tables.load(s, dir, "events").agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(dec)).cast("double").as("sx"),
          sum((col("value") * col("value")).cast(dec)).cast("double").as("sxx"))
        m.withColumn("mean", col("sx") / col("n"))
          .withColumn("variance",
            (col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
          .select(col("n"),
            round(col("mean"), 6).as("mean"),
            round(col("variance"), 6).as("variance"),
            round(col("mean") * 0.05, 6).as("mde_abs"),
            ceil(lit(2.0) * lit(ExtQueries.zSum2) * col("variance") /
              ((col("mean") * 0.05) * (col("mean") * 0.05))).as("n_per_arm"))
      },
      Some(s"""WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
              |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
              |    CAST(SUM(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS sxx
              |  FROM events),
              |st AS (SELECT n, sx / n AS mean,
              |    (sxx - sx * sx / n) / (n - 1) AS variance FROM m)
              |SELECT n, round(mean, 6) AS mean, round(variance, 6) AS variance,
              |  round(mean * 0.05, 6) AS mde_abs,
              |  CAST(ceil(2.0 * ${ExtQueries.zSum2} * variance / ((mean * 0.05) * (mean * 0.05))) AS BIGINT) AS n_per_arm
              |FROM st""".stripMargin)),

    // q265 — URL parsing + registered-domain rollup: the web-corpus
    // curation staple (per-domain doc counts, host diversity, referrer
    // spread drive crawl dedup and domain quotas). The fixture
    // synthesizes a deterministic URL per doc from its columns; the op
    // under test is Spark's REAL `parse_url` (HOST / PATH / QUERY-key
    // extraction, the codegen'd built-in — not string hacking), with
    // the registered domain as the host's last two labels
    // (substring_index, the public-suffix stand-in). The oracle never
    // parses: it reconstructs each component from the same derivations,
    // so a parse_url deviation (scheme handling, query-key lookup)
    // fails the hash. One domain-grain shuffle — the 100 TB shape.
    QuerySpec("q265_domain_rollup",
      (s, dir) => {
        val tld = when(col("lang") === "en", "com")
          .when(col("lang") === "es", "es")
          .when(col("lang") === "zh", "cn")
          .when(col("lang") === "fr", "fr")
          .otherwise("de")
        val url = concat(lit("https://"), col("source"),
          (col("doc_id") % 7).cast("string"), lit(".example"),
          (col("doc_id") % 13).cast("string"), lit("."), tld,
          lit("/p/"), col("doc_id").cast("string"),
          lit("?ref="), col("source"))
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), url.as("url"))
          .select(col("doc_id"),
            expr("parse_url(url, 'HOST')").as("host"),
            expr("parse_url(url, 'PATH')").as("path"),
            expr("parse_url(url, 'QUERY', 'ref')").as("ref"))
          .select(col("doc_id"), col("host"), col("path"), col("ref"),
            substring_index(col("host"), ".", -2).as("reg_domain"))
          .groupBy("reg_domain")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("host")).as("n_hosts"),
            countDistinct(col("ref")).as("n_refs"),
            sum(length(col("path")).cast("long")).as("path_chars"))
          .orderBy("reg_domain")
      },
      Some("""WITH u AS (SELECT doc_id, source,
             |    source || CAST(doc_id % 7 AS VARCHAR) || '.example'
             |      || CAST(doc_id % 13 AS VARCHAR) || '.' ||
             |      CASE lang WHEN 'en' THEN 'com' WHEN 'es' THEN 'es'
             |        WHEN 'zh' THEN 'cn' WHEN 'fr' THEN 'fr' ELSE 'de' END AS host,
             |    '/p/' || CAST(doc_id AS VARCHAR) AS path,
             |    'example' || CAST(doc_id % 13 AS VARCHAR) || '.' ||
             |      CASE lang WHEN 'en' THEN 'com' WHEN 'es' THEN 'es'
             |        WHEN 'zh' THEN 'cn' WHEN 'fr' THEN 'fr' ELSE 'de' END AS reg_domain
             |  FROM documents)
             |SELECT reg_domain, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
             |  CAST(count(DISTINCT source) AS BIGINT) AS n_refs,
             |  CAST(SUM(strlen(path)) AS BIGINT) AS path_chars
             |FROM u GROUP BY reg_domain ORDER BY reg_domain""".stripMargin)),

    // q270 — blob-shard POINT LOOKUP: the random-access serving path a
    // training loader uses for sample inspection / curriculum picks,
    // completing the blob story (q246 offsets, q247 sequential scan,
    // q248 streaming, q249 federated): a metadata-only V2 scan (media
    // UNPROJECTED — header-sized IO) materializes the (doc_id → shard,
    // offset, length) SIDECAR INDEX as parquet; a bounded probe set
    // then fetches each record by RandomAccessFile seek at its indexed
    // offset and decodes the WAV header from the fetched bytes — if any
    // offset in the index were wrong, the decode (and the hash) would
    // fail. Per-row file opens are the point-lookup cost model; bulk
    // reads use the sequential scan.
    QuerySpec("q270_blob_point_lookup",
      (s, dir) => {
        import s.implicits._
        val out = shardDir(dir)
        graft.sources.BlobShards.pack(wavMedia(s, dir), out)
        val idxDir = out + "_idx"
        val meta = s.read
          .format(classOf[graft.sources.BlobShardDataSource].getName)
          .option("path", out).load()
          .select("doc_id", "shard", "offset", "length")
        Sinks.parquet(meta, idxDir)
        s.read.parquet(idxDir).filter(col("doc_id") % 97 === 5)
          .as[(Long, Int, Long, Int)]
          .mapPartitions(_.map { case (id, sh, off, len) =>
            val raf = new java.io.RandomAccessFile(s"$out/shard-$sh.bin", "r")
            try {
              raf.seek(off)
              val b = new Array[Byte](len)
              raf.readFully(b)
              val (rate, ch, _, ns) = graft.functions.Multimodal.decodeWav(b).get
              (id, sh, off, len, rate, ch, ns)
            } finally raf.close()
          })
          .toDF("doc_id", "shard", "offset", "length", "sample_rate",
            "channels", "n_samples")
          .orderBy("doc_id")
      },
      // q247's framing arithmetic, filtered AFTER the offsets are
      // computed over the full packed corpus (a WHERE inside the window
      // select would corrupt the running sums)
      Some("""SELECT * FROM (
             |  WITH b AS (SELECT doc_id,
             |      CAST(CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 4 AS INTEGER) AS shard,
             |      CAST(44 + strlen(text) AS INTEGER) AS length,
             |      CAST(1 + doc_id % 2 AS INTEGER) AS ch,
             |      strlen(text) AS sl
             |    FROM documents)
             |  SELECT doc_id, shard,
             |    CAST(12 + COALESCE(SUM(12 + length) OVER (PARTITION BY shard
             |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset,
             |    length,
             |    CAST(CASE WHEN doc_id % 3 = 0 THEN 16000 ELSE 8000 END AS INTEGER) AS sample_rate,
             |    ch AS channels,
             |    CAST(sl // (ch*2) AS BIGINT) AS n_samples
             |  FROM b)
             |WHERE doc_id % 97 = 5 ORDER BY doc_id""".stripMargin)),

    // q274 — ZONE-MAP skip-rate analysis: simulate two physical layouts
    // of the same corpus (ingest order vs clustered by n_chars, 32
    // docs/file), build per-file min/max zone maps, and measure — for a
    // fixed predicate-band workload — how many files each layout can
    // skip and the resulting IO amplification (rows scanned vs rows
    // matching). This is the analysis that justifies an OPTIMIZE/
    // cluster-by: data skipping is the #1 scan lever at 100 TB, and it
    // only works when the layout correlates with the predicate column.
    // Scale shape: ranks come from `ops.PrefixSum` (range-partitioned
    // two-phase cumsum — NO single-reducer global window); zone maps
    // aggregate at file grain; the 5-band workload frame is a broadcast
    // literal. The fixture shows the point: clustered skips 69-88% of
    // files per band, ingest ~0%.
    QuerySpec("q274_zone_map_skip",
      (s, dir) => {
        val base = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("n_chars")).withColumn("__one", lit(1L))
        def layout(name: String, keys: Seq[String]) =
          graft.ops.PrefixSum.cumsum(base, keys, "__one", "rk", 32)
            .select(lit(name).as("layout"),
              floor((col("rk") - 1) / 32).cast("int").as("file_id"),
              col("n_chars"))
        val zones = layout("ingest", Seq("doc_id"))
          .unionByName(layout("clustered", Seq("n_chars", "doc_id")))
          .groupBy("layout", "file_id")
          .agg(min("n_chars").as("zmin"), max("n_chars").as("zmax"),
            count(lit(1)).as("rows_in_file"))
        import s.implicits._
        val bands = Seq((0, 100), (100, 200), (200, 300), (300, 400),
          (400, 600)).toDF("lo", "hi")
        val skip = col("zmax") < col("lo") || col("zmin") >= col("hi")
        val x = zones.crossJoin(broadcast(bands))
          .groupBy("lo", "hi", "layout")
          .agg(count(lit(1)).as("files_total"),
            sum(when(skip, 1L).otherwise(0L)).as("files_skipped"),
            sum(when(skip, 0L).otherwise(col("rows_in_file")))
              .as("rows_scanned"))
        val m = base.join(broadcast(bands),
            col("n_chars") >= col("lo") && col("n_chars") < col("hi"))
          .groupBy("lo", "hi").agg(count(lit(1)).as("rows_matching"))
        x.join(m, Seq("lo", "hi"), "left")
          .select(col("lo").as("band_lo"), col("hi").as("band_hi"),
            col("layout"), col("files_total"), col("files_skipped"),
            col("rows_scanned"),
            coalesce(col("rows_matching"), lit(0L)).as("rows_matching"),
            round(col("files_skipped") * 100.0 / col("files_total"), 2)
              .cast("decimal(6,2)").cast("double").as("skip_pct"))
          .orderBy("band_lo", "layout")
      },
      Some("""WITH ranked AS (
             |  SELECT doc_id, n_chars,
             |    CAST(floor((row_number() OVER (ORDER BY doc_id) - 1) / 32) AS INTEGER) AS f_ingest,
             |    CAST(floor((row_number() OVER (ORDER BY n_chars, doc_id) - 1) / 32) AS INTEGER) AS f_clustered
             |  FROM documents),
             |layouts AS (
             |  SELECT 'ingest' AS layout, f_ingest AS file_id, n_chars FROM ranked
             |  UNION ALL
             |  SELECT 'clustered', f_clustered, n_chars FROM ranked),
             |zones AS (
             |  SELECT layout, file_id, min(n_chars) AS zmin, max(n_chars) AS zmax,
             |    count(*) AS rows_in_file
             |  FROM layouts GROUP BY 1, 2),
             |bands AS (
             |  SELECT * FROM (VALUES (0, 100), (100, 200), (200, 300), (300, 400), (400, 600))
             |    AS t(lo, hi)),
             |x AS (
             |  SELECT b.lo, b.hi, z.layout,
             |    count(*) AS files_total,
             |    CAST(SUM(CASE WHEN z.zmax < b.lo OR z.zmin >= b.hi THEN 1 ELSE 0 END) AS BIGINT) AS files_skipped,
             |    CAST(SUM(CASE WHEN z.zmax < b.lo OR z.zmin >= b.hi THEN 0 ELSE z.rows_in_file END) AS BIGINT) AS rows_scanned
             |  FROM bands b CROSS JOIN zones z GROUP BY 1, 2, 3),
             |m AS (SELECT lo, hi, count(*) AS rows_matching FROM bands b
             |  JOIN documents d ON d.n_chars >= b.lo AND d.n_chars < b.hi GROUP BY 1, 2)
             |SELECT x.lo AS band_lo, x.hi AS band_hi, x.layout, x.files_total, x.files_skipped,
             |  x.rows_scanned, CAST(COALESCE(m.rows_matching, 0) AS BIGINT) AS rows_matching,
             |  CAST(CAST(round(x.files_skipped * 100.0 / x.files_total, 2) AS DECIMAL(6,2)) AS DOUBLE) AS skip_pct
             |FROM x LEFT JOIN m ON x.lo = m.lo AND x.hi = m.hi
             |ORDER BY band_lo, layout""".stripMargin)),

    // q275 — COMPACTION planner: bin-pack a small-file inventory into
    // ~16 KB rewrite groups — the OPTIMIZE/compaction step every
    // streaming-ingested table needs (thousands of per-batch files →
    // scan-efficient target files). Inventory = one row per simulated
    // file ((source, hash-bucket) grain, bytes = content + 1 KB
    // overhead); plan = next-fit-decreasing WITHIN source: files sorted
    // by (bytes desc, bucket), bin boundary wherever the running total
    // crosses the target. The window is PARTITIONED by source — file
    // inventories are metadata-grain (10M rows at 100 TB), and no
    // partition sees more than one source's files, so there is no
    // single-reducer order. Exact integer arithmetic end to end.
    QuerySpec("q275_compaction_plan",
      (s, dir) => {
        val files = Tables.load(s, dir, "documents")
          .groupBy(col("source"),
            (graft.functions.Text.hash32(col("doc_id").cast("string")) % 50)
              .cast("int").as("bucket"))
          .agg((lit(1024L) + sum(col("n_chars"))).as("bytes"))
        val w = Window.partitionBy("source")
          .orderBy(desc("bytes"), col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        files.withColumn("bin",
            floor((sum(col("bytes")).over(w) - col("bytes")) / 16384)
              .cast("int"))
          .groupBy("source", "bin")
          .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bytes"),
            round(sum(col("bytes")) * 100.0 / 16384, 2)
              .cast("decimal(7,2)").cast("double").as("fill_pct"))
          .orderBy("source", "bin")
      },
      Some("""WITH files AS (
             |  SELECT source,
             |    CAST(CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 50 AS INTEGER) AS bucket,
             |    CAST(1024 + SUM(n_chars) AS BIGINT) AS bytes
             |  FROM documents GROUP BY 1, 2),
             |planned AS (
             |  SELECT source, bucket, bytes,
             |    CAST(floor((SUM(bytes) OVER (PARTITION BY source ORDER BY bytes DESC, bucket
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bytes) / 16384) AS INTEGER) AS bin
             |  FROM files)
             |SELECT source, bin, CAST(count(*) AS BIGINT) AS n_files,
             |  CAST(SUM(bytes) AS BIGINT) AS bytes,
             |  CAST(CAST(round(SUM(bytes) * 100.0 / 16384, 2) AS DECIMAL(7,2)) AS DOUBLE) AS fill_pct
             |FROM planned GROUP BY 1, 2 ORDER BY source, bin""".stripMargin)),

    // q286 — Z-ORDER clustering effectiveness, on the NATIVE
    // graft_zorder2 expression (codegen'd Morton interleave —
    // functions/ZOrder.scala): rows sorted by the interleaved bits of
    // two coordinates land 2-D-near rows in the same files, which is
    // what makes q274's zone maps effective on BOTH dimensions at once.
    // The query materializes the OPTIMIZE-ZORDER decision metric: the
    // same corpus filed 32-rows-per-file under key order vs z-order,
    // and each file's bounding-box area (the zone-map volume a
    // 2-D predicate must intersect). Fixture shows ~18× tighter boxes
    // under z-order. Ranks via range-partitioned PrefixSum (no global
    // window); the oracle's interleave SQL is GENERATED from
    // ZOrder.sql so both engines compute one definition (NOTES rule 7).
    QuerySpec("q286_zorder_clustering",
      (s, dir) => {
        val h = (p: String, c: org.apache.spark.sql.Column) =>
          call_function("graft_hash32", concat(lit(p), c.cast("string")))
        val nodes = Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("key"),
            (h("C", col("c_custkey")) % 65536).as("x"),
            (h("D", col("c_custkey")) % 65536).as("y"))
          .withColumn("z", call_function("graft_zorder2", col("x"), col("y")))
          .withColumn("__one", lit(1L))
        def layout(name: String, keys: Seq[String]) =
          graft.ops.PrefixSum.cumsum(nodes, keys, "__one", "rk", 32)
            .select(lit(name).as("layout"),
              floor((col("rk") - 1) / 32).cast("int").as("file_id"),
              col("x"), col("y"))
        layout("zorder", Seq("z", "key"))
          .unionByName(layout("keyorder", Seq("key")))
          .groupBy("layout", "file_id")
          .agg(((max(col("x")) - min(col("x"))) *
            (max(col("y")) - min(col("y")))).as("area"))
          .groupBy("layout")
          .agg(count(lit(1)).as("n_files"), sum(col("area")).as("sum_area"),
            round(sum(col("area")) / count(lit(1)), 1)
              .cast("decimal(18,1)").cast("double").as("avg_area"))
          .orderBy("layout")
      },
      Some {
        val z = graft.functions.ZOrder.sql("x", "y")
        s"""WITH n AS (SELECT c_custkey AS key,
           |    CAST('0x'||substr(md5('C'||CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 65536 AS x,
           |    CAST('0x'||substr(md5('D'||CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 65536 AS y
           |  FROM customer),
           |zed AS (SELECT key, x, y, $z AS z FROM n),
           |ranked AS (SELECT key, x, y,
           |    CAST(floor((row_number() OVER (ORDER BY z, key) - 1) / 32) AS INTEGER) AS f_z,
           |    CAST(floor((row_number() OVER (ORDER BY key) - 1) / 32) AS INTEGER) AS f_k
           |  FROM zed),
           |layouts AS (
           |  SELECT 'zorder' AS layout, f_z AS file_id, x, y FROM ranked
           |  UNION ALL SELECT 'keyorder', f_k, x, y FROM ranked),
           |files AS (SELECT layout, file_id,
           |    (max(x) - min(x)) * (max(y) - min(y)) AS area
           |  FROM layouts GROUP BY 1, 2)
           |SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
           |  CAST(SUM(area) AS BIGINT) AS sum_area,
           |  CAST(CAST(round(SUM(area) / count(*), 1) AS DECIMAL(18,1)) AS DOUBLE) AS avg_area
           |FROM files GROUP BY layout ORDER BY layout""".stripMargin
      }),

    // q292 — COMPACTION EXECUTED through real storage (q275 stops at
    // the plan; this runs it): the corpus is first written as 40 small
    // hash-keyed partition dirs (the post-streaming-ingest state),
    // the next-fit-decreasing plan assigns each small file to a
    // ~16 KB rewrite bin, and the REWRITE actually happens — read
    // small dir → broadcast the 40-row plan → repartition ON THE BIN →
    // `partitionBy(bin)` write, so each bin lands as one output file.
    // The gate verifies CONTENT PRESERVATION: the per-bin doc/char
    // totals of the re-read compacted table must equal the plan
    // arithmetic over the original corpus (any row lost or duplicated
    // in the rewrite breaks the hash). CompactionSpec pins the
    // physical claim: ≤ one data file per bin dir after, 40 dirs
    // before. Portable hash file keys keep the layout oracle-visible.
    QuerySpec("q292_compaction_execute",
      (s, dir) => {
        val (small, compact) = compactionDirs(dir)
        val docs = Tables.load(s, dir, "documents")
          .withColumn("f",
            (graft.functions.Text.hash32(col("doc_id").cast("string")) % 40)
              .cast("int"))
        docs.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy("f").parquet(small)
        val inv = s.read.parquet(small)
          .groupBy("f").agg((lit(1024L) + sum(col("n_chars"))).as("bytes"))
        val wp = Window.orderBy(desc("bytes"), col("f"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // 40-row plan frame: the unpartitioned window is file-inventory
        // grain (metadata), not data grain
        val plan = inv.withColumn("bin",
          floor((sum(col("bytes")).over(wp) - col("bytes")) / 16384)
            .cast("int"))
        s.read.parquet(small)
          .join(broadcast(plan.select("f", "bin")), "f")
          .repartition(col("bin"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy("bin").parquet(compact)
        s.read.parquet(compact)
          .groupBy("bin")
          .agg(countDistinct(col("f")).as("n_files"),
            count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
          .orderBy("bin")
      },
      Some("""WITH files AS (
             |  SELECT CAST(CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 40 AS INTEGER) AS f,
             |    CAST(1024 + SUM(n_chars) AS BIGINT) AS bytes,
             |    count(*) AS n_docs, SUM(n_chars) AS chars
             |  FROM documents GROUP BY 1),
             |planned AS (
             |  SELECT *, CAST(floor((SUM(bytes) OVER (ORDER BY bytes DESC, f
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bytes) / 16384) AS INTEGER) AS bin
             |  FROM files)
             |SELECT bin, CAST(count(*) AS BIGINT) AS n_files,
             |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
             |  CAST(SUM(chars) AS BIGINT) AS chars
             |FROM planned GROUP BY bin ORDER BY bin""".stripMargin)),

    // q293 — SCHEMA EVOLUTION read across table generations: an early
    // write lacks a column a later write has (the universal lakehouse
    // situation once a pipeline adds a field). Two real parquet
    // generations (gen=1 without o_orderpriority, gen=2 with it) are
    // read through ONE `mergeSchema` scan: the union schema applies,
    // gen-1 rows surface NULL for the missing column, and the query
    // reports per-priority totals with the NULLs bucketed as
    // 'pre-schema'. The oracle reconstructs the generation split
    // arithmetically — the gate fails if merge drops rows, misaligns
    // columns, or invents non-null defaults.
    QuerySpec("q293_schema_evolution",
      (s, dir) => {
        val root = evolutionDir(dir)
        val ord = Tables.load(s, dir, "orders")
        ord.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$root/gen=1")
        ord.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$root/gen=2")
        s.read.option("mergeSchema", "true").parquet(root)
          .select(coalesce(col("o_orderpriority"), lit("pre-schema"))
            .as("priority"), col("o_totalprice"), col("gen"))
          .groupBy("priority")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("gen")).as("n_gens"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("decimal(28,2)").cast("double").as("total"))
          .orderBy("priority")
      },
      Some("""SELECT COALESCE(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END,
             |    'pre-schema') AS priority,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(count(DISTINCT o_orderkey % 2) AS BIGINT) AS n_gens,
             |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS total
             |FROM orders
             |GROUP BY 1 ORDER BY priority""".stripMargin)),

    // q277 — AGGREGATE PUSHDOWN into the V2 source: per-shard
    // count/byte totals over the packed corpus are answered ENTIRELY
    // from the `_manifest` sidecar — the ScanBuilder's
    // SupportsPushDownAggregates plans the final group rows at driver
    // plan time and NO shard file is opened (BlobSourceSpec pins zero
    // reader opens; the plan shows `PushedAggregation[groupBy=shard
    // count,sum(length)] (manifest-only)`). This is the parquet-footer
    // count(*) trick for a custom format: at 100 TB the difference
    // between a catalog lookup and a full corpus walk. The oracle
    // reconstructs the same totals from the documents arithmetic, so
    // the manifest's claim is verified against ground truth.
    QuerySpec("q277_blob_agg_pushdown",
      (s, dir) => {
        val out = shardDir(dir)
        graft.sources.BlobShards.pack(wavMedia(s, dir), out)
        s.read.format(classOf[graft.sources.BlobShardDataSource].getName)
          .option("path", out).load()
          .groupBy("shard")
          .agg(expr("count(*)").as("n_records"),
            sum(col("length")).as("blob_bytes"))
          .select(col("shard"), col("n_records"), col("blob_bytes"),
            round(col("blob_bytes") / col("n_records"), 2)
              .cast("decimal(10,2)").cast("double").as("mean_bytes"))
          .orderBy("shard")
      },
      Some("""WITH b AS (SELECT
             |    CAST(CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 4 AS INTEGER) AS shard,
             |    44 + strlen(text) AS len
             |  FROM documents)
             |SELECT shard, CAST(count(*) AS BIGINT) AS n_records,
             |  CAST(SUM(len) AS BIGINT) AS blob_bytes,
             |  CAST(CAST(round(SUM(len) / count(*), 2) AS DECIMAL(10,2)) AS DOUBLE) AS mean_bytes
             |FROM b GROUP BY shard ORDER BY shard""".stripMargin)),

    // q291 — TopN PUSHDOWN serving read: `ORDER BY doc_id LIMIT 10`
    // against the V2 source is answered from the shard-file HEADS —
    // the write contract sorts every shard by doc_id, so the scan
    // builder accepts the TopN (SupportsPushDownTopN), each reader
    // stops after 10 records, and Spark merges the per-shard heads
    // (partial pushdown). BlobSourceSpec pins the early stop with the
    // records-read counter (≤ 4·N instead of the corpus) and that a
    // DESC ordering is refused and falls back correctly. At 100 TB
    // this is "show me the first rows" without touching the corpus —
    // the layout contract paying off on the read side.
    QuerySpec("q291_blob_topn_serve",
      (s, dir) => {
        val out = shardDir(dir)
        graft.sources.BlobShards.pack(wavMedia(s, dir), out)
        s.read.format(classOf[graft.sources.BlobShardDataSource].getName)
          .option("path", out).load()
          .select("doc_id", "shard", "length")
          .orderBy("doc_id").limit(10)
      },
      Some("""SELECT doc_id,
             |  CAST(CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 4 AS INTEGER) AS shard,
             |  CAST(44 + strlen(text) AS INTEGER) AS length
             |FROM documents ORDER BY doc_id LIMIT 10""".stripMargin)),

    // q300 — FLAGSHIP multimodal curation, end to end through real
    // storage (the multimodal analog of q96's text pipeline): raw
    // corpus packed into blob shards (V2 write #1) → media DECODED
    // from the scanned bytes (real WAV walks, not metadata columns) →
    // audio-duration + text-length quality gates → coarse-profile
    // keep-first dedup (one key-grain aggregate) → survivors RE-PACKED
    // into a curated 2-shard generation (V2 write #2, planner-inserted
    // layout exchange) → final stats computed by RE-SCANNING and
    // RE-DECODING the curated generation's actual bytes. Every count
    // in the output passed through two physical write/read boundaries
    // and two byte-level decodes — if any stage dropped, duplicated or
    // corrupted a record, the hash fails. This is the daily shape of a
    // 100 TB multimodal curation pass.
    QuerySpec("q300_multimodal_curation",
      (s, dir) => {
        import s.implicits._
        val raw = shardDir(dir)
        graft.sources.BlobShards.pack(wavMedia(s, dir), raw)
        val fmt = classOf[graft.sources.BlobShardDataSource].getName
        val decoded = s.read.format(fmt).option("path", raw).load()
          .select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
          .mapPartitions(_.flatMap { case (id, m) =>
            graft.functions.Multimodal.decodeWav(m).map {
              case (rate, ch, _, ns) => (id, m, ns, ns * 1000L / rate)
            }
          }).toDF("doc_id", "media", "samples", "dur_ms")
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
        val gated = decoded.join(docs, "doc_id")
          .filter(col("n_chars") >= 100 && col("dur_ms") >= 10)
          .persistTracked()
        val kept = gated
          .groupBy(col("lang"), expr("n_chars DIV 10").as("band"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id")
        val out = raw + "_curated"
        graft.sources.BlobShards.pack(
          gated.join(kept, "doc_id")
            .select(col("doc_id"),
              (graft.functions.Text.hash32(
                concat(lit("cur"), col("doc_id").cast("string"))) % 2)
                .cast("int").as("shard"),
              col("media")),
          out)
        val rescan = s.read.format(fmt).option("path", out).load()
          .select(col("shard"), col("doc_id"), col("media"))
          .as[(Int, Long, Array[Byte])]
          .mapPartitions(_.flatMap { case (sh, id, m) =>
            graft.functions.Multimodal.decodeWav(m).map {
              case (_, _, _, ns) => (sh, id, ns, m.length)
            }
          }).toDF("shard", "doc_id", "samples", "media_bytes")
        rescan.join(docs, "doc_id")
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("lang")).as("n_langs"),
            sum(col("samples")).as("total_samples"),
            sum(col("media_bytes")).as("media_bytes"))
          .orderBy("shard")
      },
      Some("""WITH m AS (SELECT doc_id, lang, strlen(text) AS sl,
             |    CAST(1 + doc_id % 2 AS INTEGER) AS ch,
             |    CASE WHEN doc_id % 3 = 0 THEN 16000 ELSE 8000 END AS rate
             |  FROM documents),
             |meta AS (SELECT *, sl // (ch*2) AS samples,
             |    (sl // (ch*2)) * 1000 // rate AS dur_ms FROM m),
             |gated AS (SELECT * FROM meta WHERE sl >= 100 AND dur_ms >= 10),
             |dedup AS (SELECT * FROM (SELECT *,
             |    row_number() OVER (PARTITION BY lang, sl // 10 ORDER BY doc_id) AS rn
             |  FROM gated) WHERE rn = 1),
             |cur AS (SELECT *,
             |    CAST(CAST('0x'||substr(md5('cur'||CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 2 AS INTEGER) AS shard
             |  FROM dedup)
             |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             |  CAST(SUM(samples) AS BIGINT) AS total_samples,
             |  CAST(SUM(44 + sl) AS BIGINT) AS media_bytes
             |FROM cur GROUP BY shard ORDER BY shard""".stripMargin)),

    // q299 — MIN/MAX doc-id pushdown from the v2 manifest: the writer
    // records each shard's doc_id BOUNDS for free (rows arrive
    // (shard, doc_id)-sorted under the layout contract), so per-shard
    // and global min/max(doc_id) — the partition-inventory query every
    // incremental reader runs to plan its next slice — are answered
    // with ZERO shard-file opens, alongside count. A legacy 3-field
    // sidecar declines only the bounds (count/sum still push);
    // BlobSourceSpec pins both behaviors and the zero-IO claim.
    QuerySpec("q299_blob_minmax_pushdown",
      (s, dir) => {
        val out = shardDir(dir)
        graft.sources.BlobShards.pack(wavMedia(s, dir), out)
        s.read.format(classOf[graft.sources.BlobShardDataSource].getName)
          .option("path", out).load()
          .groupBy("shard")
          .agg(expr("count(*)").as("n_records"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .orderBy("shard")
      },
      Some("""WITH b AS (SELECT doc_id,
             |    CAST(CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 4 AS INTEGER) AS shard
             |  FROM documents)
             |SELECT shard, CAST(count(*) AS BIGINT) AS n_records,
             |  CAST(min(doc_id) AS BIGINT) AS first_doc,
             |  CAST(max(doc_id) AS BIGINT) AS last_doc
             |FROM b GROUP BY shard ORDER BY shard""".stripMargin)),

    // q278 — RUNTIME shard pruning in a federated join: the V2 scan
    // declares `shard` runtime-filterable (SupportsRuntimeFiltering);
    // joining it to a BROADCAST dim with a selective predicate makes
    // Spark evaluate the dim FIRST and hand the surviving shard keys to
    // the scan before partition planning — only matching shard files
    // are ever opened (dynamic partition pruning for a custom format;
    // BlobSourceSpec pins the opened-file count). The dim keys are
    // hash%2, a guaranteed strict subset of the 4 shards, so the demo
    // always prunes. Results are pruning-independent — the oracle is
    // the plain join arithmetic.
    QuerySpec("q278_blob_runtime_prune",
      (s, dir) => {
        val out = shardDir(dir)
        graft.sources.BlobShards.pack(wavMedia(s, dir), out)
        val blobs = s.read
          .format(classOf[graft.sources.BlobShardDataSource].getName)
          .option("path", out).load()
          .select(col("shard"), col("length"))
        val dim = Tables.load(s, dir, "documents")
          .filter(col("source") === "src7")
          .groupBy((graft.functions.Text.hash32(col("doc_id").cast("string")) % 2)
            .cast("int").as("shard_key"))
          .agg(count(lit(1)).as("n_dim"))
        blobs.join(broadcast(dim), col("shard") === col("shard_key"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_records"),
            sum(col("length").cast("long")).as("blob_bytes"),
            max(col("n_dim")).as("n_dim"))
          .orderBy("shard")
      },
      Some("""WITH b AS (SELECT
             |    CAST(CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 4 AS INTEGER) AS shard,
             |    44 + strlen(text) AS len
             |  FROM documents),
             |d AS (SELECT
             |    CAST(CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 2 AS INTEGER) AS shard_key,
             |    count(*) AS n_dim
             |  FROM documents WHERE source = 'src7' GROUP BY 1)
             |SELECT shard, CAST(count(*) AS BIGINT) AS n_records,
             |  CAST(SUM(len) AS BIGINT) AS blob_bytes,
             |  CAST(max(n_dim) AS BIGINT) AS n_dim
             |FROM b JOIN d ON b.shard = d.shard_key
             |GROUP BY shard ORDER BY shard""".stripMargin)),

    // q316 — DYNAMIC PARTITION OVERWRITE: the lakehouse correction
    // pattern — a full partitioned write, then a correction batch
    // touching TWO partitions, written with
    // partitionOverwriteMode=dynamic so ONLY the partitions present in
    // the batch are replaced (static mode would truncate the whole
    // table; an append would duplicate). The correction is a strict
    // subset (o_orderkey % 3 = 0) of the urgent partitions, so the gate
    // detects all three failure modes sharply: replaced partitions must
    // show the SMALLER corrected counts, untouched partitions the full
    // originals, and any leftover pre-correction file in a replaced
    // partition breaks both the count and the decimal sum. The mode is
    // a per-write OPTION — session conf is never mutated (the Tuned
    // rule). At 100 TB this is the whole point: the rewrite is
    // |touched partitions|, not |table|.
    QuerySpec("q316_dynamic_partition_overwrite",
      (s, dir) => {
        val root = dpoDir(dir)
        val ord = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"),
            round(col("o_totalprice"), 2).cast("decimal(18,2)").as("price"),
            col("o_orderpriority").as("prio"))
        ord.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy("prio").parquet(root)
        ord.filter(col("prio").isin("1-URGENT", "2-HIGH")
            && col("o_orderkey") % 3 === 0)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("prio").parquet(root)
        s.read.parquet(root)
          .groupBy("prio")
          .agg(count(lit(1)).as("n"),
            sum(col("price")).cast("decimal(28,2)").cast("double")
              .as("total"))
          .orderBy("prio")
      },
      Some("""WITH w AS (SELECT o_orderpriority AS prio, o_orderkey,
             |    CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS price FROM orders)
             |SELECT prio, CAST(count(*) AS BIGINT) AS n,
             |  CAST(CAST(SUM(price) AS DECIMAL(28,2)) AS DOUBLE) AS total
             |FROM w WHERE prio NOT IN ('1-URGENT', '2-HIGH') OR o_orderkey % 3 = 0
             |GROUP BY prio ORDER BY prio""".stripMargin)),

    // q330 — CONSISTENT-HASH RING rebalancing audit: what fraction of
    // keys MOVE when the cluster grows 4→5 shards, ring placement
    // (16 virtual nodes per shard, key → first ring position ≥ its
    // hash, wrapping to the global min) vs naive `hash % n`. The
    // measured answer is the textbook one — ~20% (≈1/5) for the ring,
    // ~80% for mod — and it is exactly why every sharded store places
    // by ring: scaling cost is |new shard|, not |cluster|. The ring is
    // an 80-row metadata broadcast; each key's two placements are one
    // conditional-min aggregate over key×ring — no shuffle of the key
    // table beyond its own grain, the honest 100 TB shape. All hashes
    // portable md5; position ties resolve to min shard id in BOTH
    // engines.
    QuerySpec("q330_consistent_hash_ring",
      (s, dir) => {
        val keys = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            graft.functions.Text.hash32(col("doc_id").cast("string")).as("h"))
          .persistTracked()
        val ring = s.range(5).select(col("id").as("sh"))
          .crossJoin(s.range(16).select(col("id").as("v")))
          .select(col("sh"), col("v"),
            graft.functions.Text.hash32(concat(lit("shard-"),
              col("sh").cast("string"), lit(":"), col("v").cast("string")))
              .as("pos"))
          .persistTracked()
        def assign(r: org.apache.spark.sql.DataFrame, out: String) = {
          val apos = keys.crossJoin(broadcast(r))
            .groupBy("doc_id", "h")
            .agg(coalesce(min(when(col("pos") >= col("h"), col("pos"))),
              min(col("pos"))).as("apos"))
          apos.join(broadcast(r), col("apos") === col("pos"))
            .groupBy("doc_id").agg(min(col("sh")).as(out))
        }
        val o4 = assign(ring.filter(col("sh") < 4), "s4")
        val o5 = assign(ring, "s5")
        val ringmove = o4.join(o5, "doc_id")
          .agg(sum(when(col("s4") =!= col("s5"), 1L).otherwise(0L))
            .as("ring_moved"), count(lit(1)).as("n_keys"))
        val modmove = keys
          .agg(sum(when(col("h") % 4 =!= col("h") % 5, 1L).otherwise(0L))
            .as("mod_moved"))
        ringmove.crossJoin(modmove)
          .select(col("n_keys"), col("ring_moved"),
            (col("ring_moved").cast("double") / col("n_keys")).as("ring_frac"),
            col("mod_moved"),
            (col("mod_moved").cast("double") / col("n_keys")).as("mod_frac"))
      },
      Some("""WITH keys AS (SELECT doc_id, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h FROM documents),
             |ring AS (SELECT s, v, CAST(('0x' || substr(md5('shard-' || CAST(s AS VARCHAR) || ':' || CAST(v AS VARCHAR)), 1, 8)) AS BIGINT) AS pos
             |  FROM UNNEST(generate_series(0, 4)) t(s), UNNEST(generate_series(0, 15)) u(v)),
             |a4 AS (SELECT k.doc_id,
             |    COALESCE(min(CASE WHEN r.pos >= k.h THEN r.pos END), min(r.pos)) AS apos
             |  FROM keys k, ring r WHERE r.s < 4 GROUP BY k.doc_id, k.h),
             |o4 AS (SELECT a4.doc_id, min(r.s) AS s4 FROM a4 JOIN ring r ON r.pos = a4.apos AND r.s < 4 GROUP BY a4.doc_id),
             |a5 AS (SELECT k.doc_id,
             |    COALESCE(min(CASE WHEN r.pos >= k.h THEN r.pos END), min(r.pos)) AS apos
             |  FROM keys k, ring r GROUP BY k.doc_id, k.h),
             |o5 AS (SELECT a5.doc_id, min(r.s) AS s5 FROM a5 JOIN ring r ON r.pos = a5.apos GROUP BY a5.doc_id),
             |rm AS (SELECT CAST(SUM(CASE WHEN s4 <> s5 THEN 1 ELSE 0 END) AS BIGINT) AS ring_moved,
             |    CAST(count(*) AS BIGINT) AS n_keys
             |  FROM o4 JOIN o5 ON o4.doc_id = o5.doc_id),
             |mm AS (SELECT CAST(SUM(CASE WHEN h % 4 <> h % 5 THEN 1 ELSE 0 END) AS BIGINT) AS mod_moved FROM keys)
             |SELECT n_keys, ring_moved, CAST(ring_moved AS DOUBLE) / n_keys AS ring_frac,
             |  mod_moved, CAST(mod_moved AS DOUBLE) / n_keys AS mod_frac
             |FROM rm, mm""".stripMargin)),

    // q336 — MATERIALIZED-VIEW REWRITE under the oracle gate: build a
    // (l_returnflag, l_linestatus, l_linenumber)-grain summary of
    // lineitem ONCE, register plans.MvRewriteRule on a session clone,
    // and run a plain base-table aggregate — the optimizer redirects it
    // to the 42-row MV (exact by algebra: decimal sums re-associate,
    // counts add). The fn REQUIRES that no lineitem scan survives in the
    // optimized plan, so the hash-green result is proof the rewritten
    // plan — not the base plan — produced it; the oracle computes from
    // the base table, pinning rewrite ≡ direct aggregation. At 100 TB
    // this is the summary-table pattern: the MV is O(group cardinality),
    // the query never touches the fact scan.
    QuerySpec("q336_mv_rewrite",
      (s, dir) => {
        val ns = graft.core.Tuned.session(s)
          .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val base = Tables.load(ns, dir, "lineitem")
        val mvPath = Scratch.dir("mv", dir)
        base.groupBy("l_returnflag", "l_linestatus", "l_linenumber")
          .agg(sum("l_quantity").as("s_qty"),
            sum("l_extendedprice").as("s_price"),
            count(lit(1)).as("n_rows"))
          .write.mode("overwrite").parquet(mvPath)
        val basePath = base.queryExecution.analyzed.collectFirst {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.rootPaths.head.toString
        }.get
        val rule = graft.plans.MvRewriteRule(ns, basePath,
          ns.read.parquet(mvPath).queryExecution.analyzed,
          Set("l_returnflag", "l_linestatus", "l_linenumber"),
          Map("l_quantity" -> "s_qty", "l_extendedprice" -> "s_price"),
          "n_rows")
        if (!ns.experimental.extraOptimizations.contains(rule))
          ns.experimental.extraOptimizations =
            ns.experimental.extraOptimizations :+ rule
        val q = Tables.load(ns, dir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum("l_quantity").as("sum_qty"),
            sum("l_extendedprice").as("sum_price"),
            count(lit(1)).as("n_rows"))
          .select(col("l_returnflag"), col("l_linestatus"),
            col("sum_qty").cast("decimal(28,2)").cast("double").as("sum_qty"),
            col("sum_price").cast("decimal(28,2)").cast("double")
              .as("sum_price"),
            col("n_rows"))
          .orderBy("l_returnflag", "l_linestatus")
        val scans = q.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.rootPaths.head.toString
        }
        require(scans.nonEmpty && scans.forall(_ == "file:" + mvPath),
          s"MV rewrite did not fire; plan scans $scans")
        q
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(CAST(SUM(l_quantity) AS DECIMAL(28,2)) AS DOUBLE) AS sum_qty,
             |  CAST(CAST(SUM(l_extendedprice) AS DECIMAL(28,2)) AS DOUBLE) AS sum_price,
             |  CAST(count(*) AS BIGINT) AS n_rows
             |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // q337 — EXACT SHAPLEY channel attribution (Zhao et al.'s coalition
    // formulation): a user's coalition is the SET of non-purchase channel
    // types seen before their first purchase (all events for
    // non-converters); v(S) = P(first purchase value > 60 | coalition =
    // S), with unobserved coalitions v = 0. With a 4-channel alphabet
    // the 16 coalition values are an aggregate, and the Shapley sum
    // Σ_S w(|S|)·(v(S∪i) − v(S)) is a 64-row broadcast join — per-user
    // work is one aggregate, corpus-linear. Hash stability: v is
    // round(·,6) DECIMAL, weights ×4! are exact integers (6,2,2,6), so
    // the weighted sum is EXACT decimal; the single ÷24 IEEE division
    // happens once at output.
    QuerySpec("q337_shapley_attribution",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events").persistTracked()
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val cut = ev.filter(col("event_type") === "purchase")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("ts").as("pts"),
            (col("value") > 60).cast("int").as("conv"))
        val bit = expr("""CASE event_type WHEN 'click' THEN 1
          WHEN 'error' THEN 2 WHEN 'signup' THEN 4 WHEN 'view' THEN 8
          ELSE 0 END""")
        val u = ev.join(cut, Seq("user_id"), "left")
          .filter(col("event_type") =!= "purchase" &&
            (col("pts").isNull || col("ts") < col("pts")))
          .groupBy("user_id")
          .agg(sum_distinct(bit).cast("int").as("mask"),
            coalesce(max("conv"), lit(0)).as("conv"))
        val g = u.groupBy("mask")
          .agg(round(sum("conv").cast("double") / count(lit(1)), 6)
            .cast("decimal(18,6)").as("v"))
          .persistTracked()
        val ch = s.range(4).select(
          element_at(lit(Array("click", "error", "signup", "view")),
            col("id").cast("int") + 1).as("name"),
          expr("shiftleft(1, CAST(id AS INT))").as("bit"))
        val coal = s.range(16).select(col("id").cast("int").as("mask"))
        ch.join(coal, (col("mask").bitwiseAND(col("bit"))) === 0)
          .join(g.select(col("mask").as("wm"), col("v").as("vw")),
            col("wm") === (col("mask").bitwiseOR(col("bit"))), "left")
          .join(g.select(col("mask").as("om"), col("v").as("vo")),
            col("om") === col("mask"), "left")
          .select(col("name"),
            (expr("""CAST(CASE bit_count(CAST(mask AS BIGINT)) WHEN 0 THEN 6
                WHEN 1 THEN 2 WHEN 2 THEN 2 WHEN 3 THEN 6 END AS DECIMAL(18,0))""")
              * (coalesce(col("vw"), lit(0)) - coalesce(col("vo"), lit(0))))
              .as("wd"))
          .groupBy("name").agg((sum("wd").cast("double") / 24).as("shapley"))
          .select(col("name").as("channel"), col("shapley"))
          .orderBy("channel")
      },
      Some("""WITH fp AS (SELECT user_id, ts, value,
             |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
             |      FROM events WHERE event_type = 'purchase'),
             |cut AS (SELECT user_id, ts AS pts, CAST(value > 60 AS INTEGER) AS conv
             |        FROM fp WHERE rn = 1),
             |u AS (SELECT e.user_id,
             |        CAST(SUM(DISTINCT CASE e.event_type WHEN 'click' THEN 1
             |             WHEN 'error' THEN 2 WHEN 'signup' THEN 4
             |             WHEN 'view' THEN 8 ELSE 0 END) AS INTEGER) AS mask,
             |        COALESCE(max(c.conv), 0) AS conv
             |      FROM events e LEFT JOIN cut c ON e.user_id = c.user_id
             |      WHERE e.event_type <> 'purchase' AND (c.pts IS NULL OR e.ts < c.pts)
             |      GROUP BY e.user_id),
             |g AS (SELECT mask,
             |        CAST(round(CAST(SUM(conv) AS DOUBLE) / count(*), 6)
             |          AS DECIMAL(18,6)) AS v
             |      FROM u GROUP BY mask),
             |ch(name, bit) AS (VALUES ('click', 1), ('error', 2), ('signup', 4), ('view', 8)),
             |s AS (SELECT CAST(i AS INTEGER) AS mask FROM generate_series(0, 15) t(i)),
             |contrib AS (
             |  SELECT ch.name,
             |    CAST(CASE bit_count(CAST(s.mask AS BIGINT))
             |         WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 WHEN 3 THEN 6 END
             |      AS DECIMAL(18,0))
             |      * (COALESCE(gw.v, 0) - COALESCE(go.v, 0)) AS w
             |  FROM ch JOIN s ON (s.mask & ch.bit) = 0
             |  LEFT JOIN g gw ON gw.mask = (s.mask | ch.bit)
             |  LEFT JOIN g go ON go.mask = s.mask)
             |SELECT name AS channel, CAST(SUM(w) AS DOUBLE) / 24 AS shapley
             |FROM contrib GROUP BY name ORDER BY channel""".stripMargin)),

    // q338 — t-CLOSENESS audit (the rung above q101 k-anonymity and q267
    // l-diversity): for each quasi-identifier class (nation, mktsegment),
    // the total-variation distance between the class's sensitive-value
    // distribution (o_orderpriority) and the global one. All-integer
    // core (the q324 KS trick): TVD = Σ|c_v·N − g_v·n| / (2·n·N), with
    // the numerator summed EXACTLY in DECIMAL(38,0) — BIGINT products
    // would overflow at 100 TB row counts — and the two IEEE divisions
    // applied once per class at output. One fact-grain join + two
    // aggregates; the 5-row global distribution rides a broadcast.
    QuerySpec("q338_t_closeness",
      (s, dir) => {
        val j = Tables.load(s, dir, "orders")
          .join(Tables.load(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .join(Tables.load(s, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name").as("nation"),
            col("c_mktsegment").as("seg"),
            col("o_orderpriority").as("sens"))
          .persistTracked()
        val tot = j.agg(count(lit(1)).as("nn"))
        val gd = j.groupBy("sens").agg(count(lit(1)).as("g"))
        val cls = j.groupBy("nation", "seg").agg(count(lit(1)).as("n"))
        val cd = j.groupBy("nation", "seg", "sens").agg(count(lit(1)).as("c"))
        // gd is the 5-row sensitive-value distribution, tot 1 row —
        // broadcast both so the class-grain fanout never plans as a
        // CartesianProduct (plan hygiene; the work is identical)
        cls.crossJoin(broadcast(gd)).crossJoin(broadcast(tot))
          .join(cd, Seq("nation", "seg", "sens"), "left")
          .select(col("nation"), col("seg"), col("n"), col("nn"),
            abs(coalesce(col("c"), lit(0L)).cast("decimal(38,0)") * col("nn")
              - col("g").cast("decimal(38,0)") * col("n")).as("dnum"))
          .groupBy("nation", "seg")
          .agg(max("n").as("n"), sum("dnum").as("tvd_num"),
            (sum("dnum").cast("double")
              / (lit(2.0) * max("n") * max("nn"))).as("tvd"))
          .select(col("nation"), col("seg"), col("n"),
            col("tvd_num").cast("decimal(38,0)").cast("double").as("tvd_num"),
            col("tvd"))
          .orderBy(desc("tvd"), col("nation"), col("seg"))
      },
      Some("""WITH j AS (SELECT n.n_name AS nation, c.c_mktsegment AS seg,
             |             o.o_orderpriority AS sens
             |           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             |           JOIN nation n ON c.c_nationkey = n.n_nationkey),
             |tot AS (SELECT count(*) AS nn FROM j),
             |gd AS (SELECT sens, count(*) AS g FROM j GROUP BY 1),
             |cls AS (SELECT nation, seg, count(*) AS n FROM j GROUP BY 1, 2),
             |cd AS (SELECT nation, seg, sens, count(*) AS c FROM j GROUP BY 1, 2, 3),
             |d AS (SELECT cls.nation, cls.seg, cls.n, tot.nn, gd.sens, gd.g,
             |        COALESCE(cd.c, 0) AS c
             |      FROM cls CROSS JOIN gd CROSS JOIN tot
             |      LEFT JOIN cd ON cd.nation = cls.nation AND cd.seg = cls.seg
             |        AND cd.sens = gd.sens)
             |SELECT nation, seg, CAST(max(n) AS BIGINT) AS n,
             |  CAST(CAST(SUM(abs(CAST(c AS DECIMAL(38,0)) * nn
             |    - CAST(g AS DECIMAL(38,0)) * n)) AS DECIMAL(38,0)) AS DOUBLE) AS tvd_num,
             |  CAST(SUM(abs(CAST(c AS DECIMAL(38,0)) * nn
             |    - CAST(g AS DECIMAL(38,0)) * n)) AS DOUBLE)
             |    / (CAST(2.0 AS DOUBLE) * max(n) * max(nn)) AS tvd
             |FROM d GROUP BY nation, seg ORDER BY tvd DESC, nation, seg""".stripMargin)),

    // q349 — MV REUSE across aggregation levels: ONE registered
    // summary-table rule (q336's) serves TWO different queries — a
    // coarser single-column rollup AND the grand total (empty grouping) —
    // proving the subsumption test generalizes beyond the exact grouping
    // it was built from (group-subset re-aggregation is what makes one
    // MV pay for a whole dashboard). Both plans are REQUIRED to scan
    // only the MV; the oracle recomputes both levels from the base
    // table, pinning rollup-from-MV ≡ direct.
    QuerySpec("q349_mv_rollup_serve",
      (s, dir) => {
        val ns = graft.core.Tuned.session(s)
          .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val base = Tables.load(ns, dir, "lineitem")
        val mvPath = Scratch.dir("mv", dir)
        base.groupBy("l_returnflag", "l_linestatus", "l_linenumber")
          .agg(sum("l_quantity").as("s_qty"),
            sum("l_extendedprice").as("s_price"),
            count(lit(1)).as("n_rows"))
          .write.mode("overwrite").parquet(mvPath)
        val basePath = base.queryExecution.analyzed.collectFirst {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.rootPaths.head.toString
        }.get
        val rule = graft.plans.MvRewriteRule(ns, basePath,
          ns.read.parquet(mvPath).queryExecution.analyzed,
          Set("l_returnflag", "l_linestatus", "l_linenumber"),
          Map("l_quantity" -> "s_qty", "l_extendedprice" -> "s_price"),
          "n_rows")
        if (!ns.experimental.extraOptimizations.contains(rule))
          ns.experimental.extraOptimizations =
            ns.experimental.extraOptimizations :+ rule
        val lvl1 = Tables.load(ns, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))
          .select(lit(1).as("lvl"), col("l_returnflag").as("rf"),
            col("sum_qty").cast("decimal(28,2)").cast("double").as("sum_qty"),
            col("n_rows"))
        val lvl0 = Tables.load(ns, dir, "lineitem")
          .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))
          .select(lit(0).as("lvl"), lit("ALL").as("rf"),
            col("sum_qty").cast("decimal(28,2)").cast("double").as("sum_qty"),
            col("n_rows"))
        val q = lvl1.union(lvl0).orderBy("lvl", "rf")
        val scans = q.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.rootPaths.head.toString
        }
        require(scans.size == 2 && scans.forall(_ == "file:" + mvPath),
          s"MV rollup rewrite did not fire on both levels; plan scans $scans")
        q
      },
      Some("""SELECT 1 AS lvl, l_returnflag AS rf,
             |  CAST(CAST(SUM(l_quantity) AS DECIMAL(28,2)) AS DOUBLE) AS sum_qty,
             |  CAST(count(*) AS BIGINT) AS n_rows
             |FROM lineitem GROUP BY 2
             |UNION ALL
             |SELECT 0, 'ALL', CAST(CAST(SUM(l_quantity) AS DECIMAL(28,2)) AS DOUBLE),
             |  CAST(count(*) AS BIGINT)
             |FROM lineitem
             |ORDER BY lvl, rf""".stripMargin)),

    // q352 — NATIVE RECURSIVE CTE (Spark 4's WITH RECURSIVE) against
    // DuckDB's — engine-vs-engine recursion parity, the q217 native-asof
    // methodology applied to iteration. The recursion walks each
    // customer's ancestor chain in the implicit binary-halving hierarchy
    // (anc → anc/2 — a TREE, so UNION ALL recursion is safe: paths are
    // unique and rows are n·log n, never the path-counting explosion a
    // cyclic graph would produce under UNION ALL). Depth histogram +
    // per-depth ancestor checksums pin every recursion level, not just
    // the fixpoint. Complements q204, which builds the same round
    // structure manually with DataFrame iteration + persist discipline.
    QuerySpec("q352_recursive_sql",
      (s, dir) => {
        Tables.load(s, dir, "customer").createOrReplaceTempView("g352_customer")
        s.sql("""WITH RECURSIVE rec AS (
          SELECT c_custkey AS ck, c_custkey AS anc, 0 AS d FROM g352_customer
          UNION ALL
          SELECT ck, anc DIV 2, d + 1 FROM rec WHERE anc > 1)
          SELECT CAST(d AS INT) AS depth, CAST(count(*) AS BIGINT) AS n_nodes,
            CAST(SUM(anc) AS BIGINT) AS anc_checksum
          FROM rec GROUP BY d ORDER BY depth""")
      },
      Some("""WITH RECURSIVE rec AS (
             |  SELECT c_custkey AS ck, c_custkey AS anc, 0 AS d FROM customer
             |  UNION ALL
             |  SELECT ck, anc // 2, d + 1 FROM rec WHERE anc > 1)
             |SELECT CAST(d AS INTEGER) AS depth, CAST(count(*) AS BIGINT) AS n_nodes,
             |  CAST(SUM(anc) AS BIGINT) AS anc_checksum
             |FROM rec GROUP BY d ORDER BY depth""".stripMargin)),

    // q353 — SQL-defined scalar function (Spark 4 CREATE FUNCTION …
    // RETURN): the margin model lives ONCE as a declared SQL UDF —
    // typed DECIMAL in, exact DECIMAL out, so Catalyst inlines it into
    // codegen like any expression (no closure, no serialization) — and
    // the oracle inlines the identical arithmetic textually. This is
    // the governance shape for shared business logic at 100 TB: the
    // definition ships as catalog metadata, not a jar.
    QuerySpec("q353_sql_udf",
      (s, dir) => {
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_margin(
            p DECIMAL(18,2), d DECIMAL(18,2), q DECIMAL(18,2))
          RETURNS DECIMAL(38,4)
          RETURN p * (1 - d) - q * CAST(90.00 AS DECIMAL(4,2))""")
        Tables.load(s, dir, "lineitem").createOrReplaceTempView("g353_lineitem")
        s.sql("""SELECT l_returnflag,
            CAST(CAST(SUM(graft_margin(CAST(l_extendedprice AS DECIMAL(18,2)),
              CAST(l_discount AS DECIMAL(18,2)),
              CAST(l_quantity AS DECIMAL(18,2)))) AS DECIMAL(30,4)) AS DOUBLE) AS total_margin,
            CAST(count(*) AS BIGINT) AS n
          FROM g353_lineitem GROUP BY 1 ORDER BY 1""")
      },
      Some("""SELECT l_returnflag,
             |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             |      * (1 - CAST(l_discount AS DECIMAL(18,2)))
             |    - CAST(l_quantity AS DECIMAL(18,2)) * CAST(90.00 AS DECIMAL(4,2)))
             |    AS DECIMAL(30,4)) AS DOUBLE) AS total_margin,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q360 — STORAGE-PARTITIONED JOIN (SPARK-37375) through the custom
    // V2 source: BlobShardScan now reports KeyGroupedPartitioning on
    // `shard` (every input partition is one shard file, and each
    // partition carries its key via HasPartitionKey), so two
    // graft-shards tables written under the same layout contract join
    // on (shard, doc_id) with ZERO shuffle exchanges — the planner
    // proves co-partitioning from the sources' own claims, the DSv2
    // analog of q224's bucketed-no-exchange (which needed the catalog
    // to know the bucketing; here the FORMAT knows it). Two modalities
    // of the same corpus — WAV audio and raw UTF-8 text — are packed
    // into parallel shard layouts and joined for the per-shard paired
    // footprint; the in-query require() pins the zero-hash-exchange
    // claim (the only exchange is the 4-row final sort), and
    // BlobSourceSpec re-pins it with the SMJ shape. Broadcast is
    // disabled because source-reported stats (q249) would otherwise
    // legitimately broadcast the small side — the MECHANISM under test
    // is exchange-free co-located SMJ, the 100 TB shape where neither
    // modality fits a broadcast.
    QuerySpec("q360_storage_partitioned_join",
      (s, dir) => {
        val base = Scratch.dir("spj", dir)
        val wavDir = base + "/wav"
        val txtDir = base + "/txt"
        graft.sources.BlobShards.pack(wavMedia(s, dir), wavDir)
        graft.sources.BlobShards.pack(
          Tables.load(s, dir, "documents")
            .select(col("doc_id"), col("text").cast("binary").as("media"))
            .withColumn("shard", (call_function("graft_hash32",
              col("doc_id").cast("string")) % 4).cast("int")),
          txtDir)
        val ts = graft.core.Tuned.session(s,
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.enabled" -> "false")
        def scan(p: String, lenAs: String) = ts.read
          .format(classOf[graft.sources.BlobShardDataSource].getName)
          .option("path", p).load()
          .select(col("shard"), col("doc_id"),
            col("length").cast("long").as(lenAs))
        val out = scan(wavDir, "wav_len")
          .join(scan(txtDir, "txt_len"), Seq("shard", "doc_id"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("wav_len")).as("wav_bytes"),
            sum(col("txt_len")).as("txt_bytes"))
          .orderBy("shard")
        val plan = out.queryExecution.executedPlan.toString
        require(!plan.contains("Exchange hashpartitioning"),
          s"storage-partitioned join planned a hash exchange:\n$plan")
        out
      },
      Some("""WITH b AS (SELECT doc_id,
             |    CAST(CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 4 AS INTEGER) AS shard,
             |    CAST(44 + strlen(text) AS BIGINT) AS wav_len,
             |    CAST(strlen(text) AS BIGINT) AS txt_len
             |  FROM documents)
             |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(wav_len) AS BIGINT) AS wav_bytes,
             |  CAST(SUM(txt_len) AS BIGINT) AS txt_bytes
             |FROM b GROUP BY shard ORDER BY shard""".stripMargin)),

    // q361 — HILBERT vs Z-ORDER layout comparison on the NATIVE
    // graft_hilbert2 expression (functions/Hilbert.scala, the
    // codegen'd canonical xy2d bit-descent): the same corpus filed
    // 32-rows-per-file under each curve, scored by per-file bounding-
    // box area (q286's zone-map-volume metric). Hilbert's unit-step
    // adjacency (no Morton diagonal jumps) buys tighter boxes on
    // identical data — the measurement behind choosing OPTIMIZE
    // ZORDER vs Hilbert clustering in a lakehouse layout service.
    // Ranks ride range-partitioned PrefixSum (no global window). The
    // oracle cannot unroll the stateful descent into one expression,
    // so it carries the SAME algorithm as a 16-step RECURSIVE CTE
    // generated from Hilbert.sqlCte — native codegen vs recursive SQL,
    // engine vs engine on every row's curve position.
    QuerySpec("q361_hilbert_clustering",
      (s, dir) => {
        val h = (p: String, c: org.apache.spark.sql.Column) =>
          call_function("graft_hash32", concat(lit(p), c.cast("string")))
        val nodes = Tables.load(s, dir, "part")
          .select(col("p_partkey").as("key"),
            (h("H", col("p_partkey")) % 65536).as("x"),
            (h("I", col("p_partkey")) % 65536).as("y"))
          .withColumn("z", call_function("graft_zorder2", col("x"), col("y")))
          .withColumn("hc", call_function("graft_hilbert2", col("x"), col("y")))
          .withColumn("__one", lit(1L))
        def layout(name: String, keys: Seq[String]) =
          graft.ops.PrefixSum.cumsum(nodes, keys, "__one", "rk", 32)
            .select(lit(name).as("layout"),
              floor((col("rk") - 1) / 32).cast("int").as("file_id"),
              col("x"), col("y"))
        layout("hilbert", Seq("hc", "key"))
          .unionByName(layout("zorder", Seq("z", "key")))
          .groupBy("layout", "file_id")
          .agg(((max(col("x")) - min(col("x"))) *
            (max(col("y")) - min(col("y")))).as("area"))
          .groupBy("layout")
          .agg(count(lit(1)).as("n_files"), sum(col("area")).as("sum_area"),
            round(sum(col("area")) / count(lit(1)), 1)
              .cast("decimal(18,1)").cast("double").as("avg_area"))
          .orderBy("layout")
      },
      Some {
        val z = graft.functions.ZOrder.sql("x", "y")
        s"""WITH RECURSIVE n AS (SELECT p_partkey AS key,
           |    CAST('0x'||substr(md5('H'||CAST(p_partkey AS VARCHAR)),1,8) AS BIGINT) % 65536 AS x,
           |    CAST('0x'||substr(md5('I'||CAST(p_partkey AS VARCHAR)),1,8) AS BIGINT) % 65536 AS y
           |  FROM part),
           |${graft.functions.Hilbert.sqlCte("n")},
           |zed AS (SELECT n.key, n.x, n.y, $z AS z, hd.d AS hc
           |  FROM n JOIN hd USING (key)),
           |ranked AS (SELECT key, x, y,
           |    CAST(floor((row_number() OVER (ORDER BY hc, key) - 1) / 32) AS INTEGER) AS f_h,
           |    CAST(floor((row_number() OVER (ORDER BY z, key) - 1) / 32) AS INTEGER) AS f_z
           |  FROM zed),
           |layouts AS (
           |  SELECT 'hilbert' AS layout, f_h AS file_id, x, y FROM ranked
           |  UNION ALL SELECT 'zorder', f_z, x, y FROM ranked),
           |files AS (SELECT layout, file_id,
           |    (max(x) - min(x)) * (max(y) - min(y)) AS area
           |  FROM layouts GROUP BY 1, 2)
           |SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
           |  CAST(SUM(area) AS BIGINT) AS sum_area,
           |  CAST(CAST(round(SUM(area) / count(*), 1) AS DECIMAL(18,1)) AS DOUBLE) AS avg_area
           |FROM files GROUP BY layout ORDER BY layout""".stripMargin
      }),

    // q367 — COST-BASED join reorder under the gate: three managed
    // tables get catalog statistics via ANALYZE TABLE (rowCount + NDV
    // per column — the inputs Spark's CostBasedJoinReorder DP needs),
    // and the query is written in the deliberately WRONG syntactic
    // order — fact ⋈ full supplier dim first, the selective p_size
    // filter last. With `spark.sql.cbo.joinReorder` the optimizer
    // rewrites the join tree so the filtered part dim reduces the fact
    // FIRST; the in-query require() pins that the reordered TABLE-NAME
    // leaf order actually differs from the syntactic one (names, not
    // plan strings — exprId noise can't fake or mask a diff), and the
    // oracle pins that reordering never changes results. This is the declarative
    // companion to q262's AQE skew demo: at 100 TB you state the join,
    // statistics pick the order.
    QuerySpec("q367_cbo_join_reorder",
      (s, dir) => {
        Sinks.managed(Tables.load(s, dir, "lineitem")
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity"),
          "graft_cbo_lineitem")
        Sinks.managed(Tables.load(s, dir, "part")
          .select("p_partkey", "p_size"), "graft_cbo_part")
        Sinks.managed(Tables.load(s, dir, "supplier")
          .select("s_suppkey", "s_nationkey"), "graft_cbo_supplier")
        Seq("graft_cbo_lineitem", "graft_cbo_part", "graft_cbo_supplier")
          .foreach(t =>
            s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
        val sqlText =
          """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_items,
            |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
            |FROM graft_cbo_lineitem l
            |JOIN graft_cbo_supplier su ON l.l_suppkey = su.s_suppkey
            |JOIN graft_cbo_part p ON l.l_partkey = p.p_partkey
            |WHERE p.p_size = 1
            |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin
        val cboOn = graft.core.Tuned.session(s,
          "spark.sql.cbo.enabled" -> "true",
          "spark.sql.cbo.joinReorder.enabled" -> "true")
        val cboOff = graft.core.Tuned.session(s,
          "spark.sql.cbo.enabled" -> "false")
        def leaves(d: org.apache.spark.sql.DataFrame): Seq[String] =
          d.queryExecution.optimizedPlan.collectLeaves()
            .map(l => "graft_cbo_\\w+".r.findFirstIn(l.toString).getOrElse("?"))
        val on = cboOn.sql(sqlText)
        require(leaves(on) != leaves(cboOff.sql(sqlText)),
          "statistics did not reorder the join — CBO demo is vacuous")
        on
      },
      Some("""SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_items,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
             |FROM lineitem l
             |JOIN supplier su ON l.l_suppkey = su.s_suppkey
             |JOIN part p ON l.l_partkey = p.p_partkey
             |WHERE p.p_size = 1
             |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    // q369 — INCREMENTAL maintenance of a JOIN materialized view (the
    // delta rule M' = M ∪ ΔA⋈B ∪ A₀⋈ΔB ∪ ΔA⋈ΔB, here folded to
    // ΔA⋈B_full ∪ A₀⋈ΔB), completing the IVM story the aggregate MVs
    // (q346/q349/q351) started: when the DIM side gains rows, the
    // expensive leg is A₀⋈ΔB — a full fact rescan unless the fact is
    // PARTITIONED BY THE JOIN KEY'S BUCKET. The fact generation is
    // written partitioned by pb = o_custkey % 16; the maintenance job
    // derives the affected buckets FROM ΔB itself (a bounded
    // dim-grain collect — the IVM planner's own step) and probes only
    // those partitions: the in-query require() pins that every file
    // the A₀⋈ΔB leg reads lives under the single affected pb=
    // directory. At 100 TB this is the difference between rescanning
    // the fact table and reading 1/16th of it. Oracle: the full join —
    // incremental maintenance must be indistinguishable from
    // recompute.
    QuerySpec("q369_join_mv_incremental",
      (s, dir) => {
        val base = Scratch.dir("jivm", dir)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val cust = Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        // generation 0: facts except the late batch, bucketed by the
        // dim join key; dim except the to-be-inserted slice
        val a0 = orders.filter(col("o_orderkey") % 11 =!= 0)
          .withColumn("pb", (col("o_custkey") % 16).cast("int"))
        a0.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy("pb").parquet(base + "/facts_g0")
        val dA = orders.filter(col("o_orderkey") % 11 === 0)
        val b0 = cust.filter(col("c_custkey") % 16 =!= 3)
        val dB = cust.filter(col("c_custkey") % 16 === 3)
        val m0 = s.read.parquet(base + "/facts_g0")
          .join(b0, col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_totalprice"), col("c_mktsegment"))
        // delta legs: ΔA sees the FULL dim (b0 ∪ ΔB); A₀⋈ΔB probes only
        // the buckets ΔB's keys hash into — derived from ΔB, not assumed
        val touched = dB.select((col("c_custkey") % 16).cast("int").as("pb"))
          .distinct().collect().map(_.getInt(0)).toSeq // dim-grain, bounded
        val a0Pruned = s.read.parquet(base + "/facts_g0")
          .filter(col("pb").isin(touched: _*))
        // inputFiles lists the UNPRUNED index; the honest signal is the
        // scan's PartitionFilters entry (q225's pin), which Spark
        // resolves against directories before opening any file
        val scanLine = a0Pruned.queryExecution.executedPlan.toString
          .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
        require(scanLine.contains("pb") &&
          touched.forall(b => scanLine.contains(b.toString)),
          s"A0 ⋈ ΔB leg is not partition-pruned to the affected buckets: $scanLine")
        val legDaB = dA.join(cust, col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_totalprice"), col("c_mktsegment"))
        val legA0dB = a0Pruned
          .join(dB, col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_totalprice"), col("c_mktsegment"))
        m0.unionByName(legDaB).unionByName(legA0dB)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // q371 — PARALLEL JDBC SOURCE read under the gate (the read half of
    // the S3/S4 sink family): the customer dim round-trips through
    // embedded Derby, then comes BACK via spark.read.jdbc with a
    // partitionColumn/bounds/numPartitions spec — Spark opens 4
    // concurrent connections, each scoped by a generated range
    // predicate, the only way a 100 TB ingest ever reads a warehouse
    // table (a single-connection read serializes on one wire). The
    // segment filter is PUSHED to the database (PushedFilters on the
    // JDBCRelation — the DB prunes, not Spark); both the 4-way split
    // and the pushdown are pinned in-query. Federated with the parquet
    // fact table for the revenue rollup; the oracle never sees Derby,
    // so the round trip itself is under the hash.
    QuerySpec("q371_jdbc_parallel_source",
      (s, dir) => {
        val dbRoot = java.nio.file.Files
          .createTempDirectory("graft_jdbcsrc_").toString
        val url = s"jdbc:derby:$dbRoot/db;create=true"
        val cust = Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        // explicit DDL type: the dialect default maps StringType to
        // CLOB, which Derby refuses to compare against the pushed
        // equality literal — exactly the jdbcFull columnTypes use case
        Sinks.jdbcFull(cust, url, "GRAFT_CUSTOMER", "app", "app",
          numPartitions = Some(2),
          columnTypes = Some("c_mktsegment VARCHAR(16)"))
        val bounds = cust.agg(min("c_custkey"), max("c_custkey")).head()
        val props = new java.util.Properties()
        props.setProperty("user", "app")
        props.setProperty("password", "app")
        val back = s.read.jdbc(url, "GRAFT_CUSTOMER", "C_CUSTKEY",
            bounds.getLong(0), bounds.getLong(1), 4, props)
          .filter(col("C_MKTSEGMENT") === "BUILDING")
        require(back.rdd.getNumPartitions == 4,
          "JDBC read did not split into 4 range partitions")
        val scan = back.queryExecution.executedPlan.toString
        require(scan.contains("PushedFilters") &&
          scan.toLowerCase.contains("equalto(c_mktsegment,building)"),
          s"segment filter was not pushed to the database:\n$scan")
        Tables.load(s, dir, "orders")
          .select(col("o_custkey"), col("o_totalprice"))
          .join(back, col("o_custkey") === col("C_CUSTKEY"))
          .agg(count(lit(1)).as("n_orders"),
            Stable.dsum(col("o_totalprice")).as("revenue"),
            Stable.dsum(col("C_ACCTBAL")).as("acct_sum"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acct_sum
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'""".stripMargin)),

    // q374 — TRANSACTION LOG with TIME TRAVEL (core.TxLog — the
    // Delta/Iceberg core rebuilt from first principles: versioned
    // add/remove log entries committed by create-if-absent rename):
    // version 0 creates the table, version 1 appends the late batch,
    // version 2 is a copy-on-write DELETE — and all three versions
    // stay readable AFTER the delete, each through its own replayed
    // file list (readers never list the data directory, so staged or
    // removed files cannot leak into a scan). The oracle reconstructs
    // each version from predicates over the source table: snapshot
    // isolation must be indistinguishable from recompute. TxLogSpec
    // pins what the hash can't see: the concurrent-commit race (one
    // winner), crash atomicity (staged-but-uncommitted files are
    // invisible), and vacuum retention.
    QuerySpec("q374_txlog_time_travel",
      (s, dir) => {
        import graft.core.TxLog
        val t = Scratch.dir("txlog", dir)
        TxLog.drop(t)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"))
        TxLog.create(orders.filter(col("o_orderkey") % 5 =!= 0), t) // v0
        TxLog.append(orders.filter(col("o_orderkey") % 5 === 0), t) // v1
        TxLog.deleteWhere(s, t, col("o_orderpriority") === "5-LOW") // v2
        require(TxLog.currentVersion(t) == 2, "expected 3 commits")
        // v1's snapshot must be untouched by v2's rewrite
        require(TxLog.snapshot(t, Some(1)).toSet !=
          TxLog.snapshot(t, Some(2)).toSet, "delete rewrote nothing")
        Seq(0, 1, 2).map { v =>
          TxLog.read(s, t, Some(v))
            .agg(count(lit(1)).as("n_orders"),
              Stable.dsum(col("o_totalprice")).as("revenue"))
            .select(lit(v).as("version"), col("n_orders"), col("revenue"))
        }.reduce(_ unionByName _).orderBy("version")
      },
      Some("""SELECT 0 AS version, CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders WHERE o_orderkey % 5 <> 0
             |UNION ALL
             |SELECT 1, CAST(count(*) AS BIGINT),
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |FROM orders
             |UNION ALL
             |SELECT 2, CAST(count(*) AS BIGINT),
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |FROM orders WHERE o_orderpriority <> '5-LOW'
             |ORDER BY version""".stripMargin)),

    // q375 — CHANGE DATA FEED off the transaction log: a version's
    // delta IS its add/remove file lists, so an incremental consumer
    // reads ONLY those files — never a snapshot diff (at 100 TB the
    // snapshot diff re-reads the table; the file lists are the
    // change). Per version: rows/revenue added and removed, net
    // revenue movement. The copy-on-write delete's remove set is only
    // oracle-expressible because every live file holds a matching
    // row (true for this corpus — the in-query require turns a layout
    // surprise into a loud failure instead of a hash mismatch).
    QuerySpec("q375_txlog_change_feed",
      (s, dir) => {
        import graft.core.TxLog
        val t = Scratch.dir("txcdf", dir)
        TxLog.drop(t)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"))
        TxLog.create(orders.filter(col("o_orderkey") % 5 =!= 0), t)
        TxLog.append(orders.filter(col("o_orderkey") % 5 === 0), t)
        TxLog.deleteWhere(s, t, col("o_orderpriority") === "5-LOW")
        require(TxLog.changes(t, 2)._2.toSet ==
          TxLog.snapshot(t, Some(1)).toSet,
          "a live file had no matching delete row — CDF oracle " +
            "assumption broken for this corpus")
        def slice(files: Seq[String]) =
          if (files.isEmpty)
            s.sql("SELECT CAST(0 AS BIGINT) AS n, CAST(0 AS DECIMAL(28,2)) AS rev")
          else s.read.parquet(files.map(f => s"$t/$f"): _*)
            .agg(count(lit(1)).as("n"),
              sum(col("o_totalprice").cast("decimal(18,2)"))
                .cast("decimal(28,2)").as("rev"))
        Seq(0, 1, 2).map { v =>
          val (adds, removes) = TxLog.changes(t, v)
          slice(adds).crossJoin(
              slice(removes).select(col("n").as("rn"), col("rev").as("rrev")))
            .select(lit(v).as("version"), col("n").as("rows_added"),
              col("rn").as("rows_removed"),
              (coalesce(col("rev"), lit(0).cast("decimal(28,2)")) -
                coalesce(col("rrev"), lit(0).cast("decimal(28,2)")))
                .cast("double").as("net_revenue"))
        }.reduce(_ unionByName _).orderBy("version")
      },
      Some("""WITH v0 AS (SELECT count(*) AS n,
             |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
             |  FROM orders WHERE o_orderkey % 5 <> 0),
             |v1 AS (SELECT count(*) AS n,
             |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
             |  FROM orders WHERE o_orderkey % 5 = 0),
             |keep AS (SELECT count(*) AS n,
             |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
             |  FROM orders WHERE o_orderpriority <> '5-LOW'),
             |allr AS (SELECT count(*) AS n,
             |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
             |  FROM orders)
             |SELECT 0 AS version, CAST(v0.n AS BIGINT) AS rows_added,
             |  CAST(0 AS BIGINT) AS rows_removed,
             |  CAST(v0.rev AS DOUBLE) AS net_revenue FROM v0
             |UNION ALL
             |SELECT 1, CAST(v1.n AS BIGINT), CAST(0 AS BIGINT),
             |  CAST(v1.rev AS DOUBLE) FROM v1
             |UNION ALL
             |SELECT 2, CAST(keep.n AS BIGINT), CAST(allr.n AS BIGINT),
             |  CAST(keep.rev - allr.rev AS DOUBLE) FROM keep, allr
             |ORDER BY version""".stripMargin)),

    // q376 — MERGE/UPSERT through the transaction log (TxLog.upsert:
    // insert-or-replace by key, copy-on-write over exactly the files
    // holding a matched key): a segment-relabeling CDC batch lands on
    // a table that's missing some of the batch's keys — matched rows
    // are REPLACED, unmatched ones INSERTED, in one atomic commit.
    // The oracle states the end state declaratively ((old ∖ keys) ∪
    // source); the physical file choreography must be invisible in
    // the result.
    QuerySpec("q376_txlog_merge_upsert",
      (s, dir) => {
        import graft.core.TxLog
        val t = Scratch.dir("txmrg", dir)
        TxLog.drop(t)
        val cust = Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        TxLog.create(cust.filter(col("c_custkey") % 3 =!= 0), t)
        TxLog.upsert(s, t,
          cust.filter(col("c_custkey") % 2 === 0)
            .withColumn("c_mktsegment", lit("MERGED")),
          "c_custkey")
        require(TxLog.currentVersion(t) == 1, "upsert must be ONE commit")
        TxLog.read(s, t)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_cust"),
            Stable.dsum(col("c_acctbal")).as("acct_sum"))
          .orderBy("c_mktsegment")
      },
      Some("""WITH st AS (SELECT c_custkey,
             |    CASE WHEN c_custkey % 2 = 0 THEN 'MERGED'
             |         ELSE c_mktsegment END AS c_mktsegment, c_acctbal
             |  FROM customer
             |  WHERE c_custkey % 3 <> 0 OR c_custkey % 2 = 0)
             |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
             |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acct_sum
             |FROM st GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q378 — OPTIMIZE (small-file compaction) as a LOG version: four
    // 1-file commits (the post-streaming-ingest state) compact into a
    // single file in one atomic rewrite commit — bit-identical rows,
    // new layout, and the PRE-optimize version still reads (q292
    // executes compaction as a directory rewrite; here it's a
    // versioned, time-travelable table operation). File counts are
    // construction-controlled (coalesce(1) per commit) and required
    // in-query, so the 4 → 1 claim fails loudly rather than silently;
    // the oracle pins that both layouts hold exactly the same rows.
    QuerySpec("q378_txlog_optimize",
      (s, dir) => {
        import graft.core.TxLog
        val t = Scratch.dir("txopt", dir)
        TxLog.drop(t)
        val part = Tables.load(s, dir, "part")
          .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
        TxLog.create(part.filter(col("p_partkey") % 4 === 0).coalesce(1), t)
        (1 to 3).foreach(m =>
          TxLog.append(part.filter(col("p_partkey") % 4 === m).coalesce(1), t))
        val vPre = TxLog.currentVersion(t)
        val nPre = TxLog.snapshot(t).size
        TxLog.optimize(s, t, nFiles = 1)
        val nPost = TxLog.snapshot(t).size
        require(vPre == 3 && nPre == 4 && nPost == 1,
          s"expected 4 small files compacting to 1, got $nPre -> $nPost")
        Seq(vPre -> nPre, (vPre + 1) -> nPost).map { case (v, nf) =>
          TxLog.read(s, t, Some(v))
            .agg(count(lit(1)).as("n_parts"),
              Stable.dsum(col("p_retailprice")).as("price_sum"))
            .select(lit(v).as("version"), lit(nf).as("n_files"),
              col("n_parts"), col("price_sum"))
        }.reduce(_ unionByName _).orderBy("version")
      },
      Some("""SELECT 3 AS version, 4 AS n_files,
             |  CAST(count(*) AS BIGINT) AS n_parts,
             |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
             |FROM part
             |UNION ALL
             |SELECT 4, 1, CAST(count(*) AS BIGINT),
             |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
             |FROM part
             |ORDER BY version""".stripMargin)),

    // q387 — DATA SKIPPING from log-resident file statistics: each
    // commit's add lines carry the file's min/max of the sort key
    // (TxLog.appendWithStats — the zone map Delta/Iceberg keep in
    // their logs), so a range query prunes files at PLAN time from
    // metadata alone. Four disjoint key-quartile commits → the
    // top-quartile predicate keeps exactly 1 of 4 files (required
    // in-query); the oracle recomputes the same quartile bound and the
    // same aggregate over the raw table, proving pruning lossless.
    QuerySpec("q387_txlog_data_skipping",
      (s, dir) => {
        import graft.core.TxLog
        val t = Scratch.dir("txskip", dir)
        TxLog.drop(t)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        val b = orders.agg(min(col("o_orderkey")), max(col("o_orderkey")))
          .head() // 1-row bounds frame (metadata-scale driver read)
        val (mn, mx) = (b.getLong(0), b.getLong(1))
        val q = (mx - mn + 1) / 4
        (0 to 3).foreach { i =>
          val loK = mn + i * q
          val sl = if (i < 3)
            orders.filter(col("o_orderkey") >= loK &&
              col("o_orderkey") < loK + q)
          else orders.filter(col("o_orderkey") >= loK)
          TxLog.appendWithStats(s, sl.coalesce(1), t, "o_orderkey")
        }
        val plo = mn + 3 * q
        val (kept, total) =
          TxLog.pruneSnapshot(t, "o_orderkey", plo, Long.MaxValue)
        require(kept.size == 1 && total == 4,
          s"expected 1 of 4 files to survive pruning, got ${kept.size}/$total")
        s.read.parquet(kept.map(f => s"$t/$f"): _*)
          .filter(col("o_orderkey") >= plo)
          .agg(count(lit(1)).as("n_orders"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .select(lit(kept.size).as("files_kept"), lit(total).as("files_total"),
            col("n_orders"), col("revenue"))
      },
      Some("""WITH b AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx
             |  FROM orders),
             |p AS (SELECT mn + 3 * ((mx - mn + 1) // 4) AS plo FROM b)
             |SELECT 1 AS files_kept, 4 AS files_total,
             |  CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders, p WHERE o_orderkey >= p.plo""".stripMargin)),

    // q403 — SHALLOW CLONE (zero-copy dev/test branch): the clone's
    // version 0 REFERENCES the source's live files by relative path —
    // no bytes move (required in-query: the clone dir holds a log and
    // nothing else) — and the source's outstanding DELETION VECTORS
    // carry over translated, so the branch starts from exactly the
    // source's logical state. The branch then diverges: a copy-on-
    // write delete in the clone un-shares what it touches while the
    // SOURCE reads back byte-identical (both under the hash). The
    // workflow every migration rehearses: branch prod, mutate the
    // branch, prove prod untouched.
    QuerySpec("q403_txlog_shallow_clone",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("txcl", dir)
        val clone = base + "_branch"
        TxLog.drop(base); TxLog.drop(clone)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"))
        TxLog.create(orders, base)
        TxLog.deleteWhereDV(s, base, col("o_orderpriority") === "5-LOW")
        TxLog.shallowClone(base, clone)
        require(!new java.io.File(clone).listFiles()
          .exists(_.getName.endsWith(".parquet")),
          "shallow clone copied data files")
        TxLog.deleteWhere(s, clone, col("o_orderkey") % 3 === 0)
        Seq("base" -> base, "branch" -> clone).map { case (stage, t) =>
          TxLog.read(s, t)
            .agg(count(lit(1)).as("n_orders"),
              Stable.dsum(col("o_totalprice")).as("revenue"))
            .select(lit(stage).as("stage"), col("n_orders"), col("revenue"))
        }.reduce(_ unionByName _).orderBy("stage")
      },
      Some("""SELECT 'base' AS stage, CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders WHERE o_orderpriority <> '5-LOW'
             |UNION ALL
             |SELECT 'branch', CAST(count(*) AS BIGINT),
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |FROM orders WHERE o_orderpriority <> '5-LOW' AND o_orderkey % 3 <> 0
             |ORDER BY stage""".stripMargin)),

    // q404 — CHECKPOINTED LOG REPLAY: a long-lived table (12 commits —
    // create, ten appends, a copy-on-write delete) crosses the
    // auto-checkpoint cadence at version 10, so the replayed state is
    // serialized into `_log/00000010.checkpoint` and every subsequent
    // reader starts THERE instead of at version 0 — the growth fix
    // that bounds replay at O(interval) raw entries on a table with
    // years of commits (Delta's `_last_checkpoint` shape). The query
    // then deletes the RAW log entries below the checkpoint and reads
    // both post-checkpoint versions under the hash: state must be
    // indistinguishable from full recompute with the log history gone
    // (pre-checkpoint time travel is what truncation retires — the
    // documented log-cleanup contract). TxLogSpec pins the mechanics
    // (auto-cadence, verbatim stats lines, txn markers surviving).
    QuerySpec("q404_txlog_checkpoint_replay",
      (s, dir) => {
        import graft.core.TxLog
        val t = Scratch.dir("txck", dir)
        TxLog.drop(t)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"))
        TxLog.create(orders.filter(col("o_orderkey") % 12 === 0), t) // v0
        (1 to 10).foreach { k => // v1..v10 — v10 auto-checkpoints
          TxLog.append(orders.filter(col("o_orderkey") % 12 === k), t)
        }
        require(java.nio.file.Files.exists(java.nio.file.Paths.get(
          t, "_log", f"${10}%08d.checkpoint")),
          "commit 10 must have auto-checkpointed")
        TxLog.deleteWhere(s, t, col("o_orderpriority") === "5-LOW") // v11
        // retire the raw history below the checkpoint
        (0 to 9).foreach(i => java.nio.file.Files.delete(
          java.nio.file.Paths.get(t, "_log", f"$i%08d.txt")))
        require(TxLog.currentVersion(t) == 11,
          "truncated log must still resolve the current version")
        Seq(10, 11).map { v =>
          TxLog.read(s, t, Some(v))
            .agg(count(lit(1)).as("n_orders"),
              Stable.dsum(col("o_totalprice")).as("revenue"))
            .select(lit(v).as("version"), col("n_orders"), col("revenue"))
        }.reduce(_ unionByName _).orderBy("version")
      },
      Some("""SELECT 10 AS version, CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders WHERE o_orderkey % 12 <> 11
             |UNION ALL
             |SELECT 11, CAST(count(*) AS BIGINT),
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |FROM orders
             |WHERE o_orderkey % 12 <> 11 AND o_orderpriority <> '5-LOW'
             |ORDER BY version""".stripMargin)),

    // q405 — TIME TRAVEL BY TIMESTAMP (Delta's timestampAsOf): a
    // commit records its publish instant as a `ts` line INSIDE the log
    // entry (file mtime is only the pre-ts fallback — ADVICE r9: entry-
    // resident instants survive copies/restores that reset metadata),
    // so `readAt(ts)` resolves the newest version at or before the
    // instant from log content alone. The query pins three
    // deterministic commit instants (in-query ts-line rewrites — wall
    // clock never reaches the result), probes between/at/after them,
    // and each probe's state must hash-match recompute from the
    // equivalent predicate. Boundary rule: at-the-instant is INCLUSIVE
    // (TxLogSpec pins it plus the pre-history refusal).
    QuerySpec("q405_txlog_timestamp_travel",
      (s, dir) => {
        import graft.core.TxLog
        val t = Scratch.dir("txts", dir)
        TxLog.drop(t)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"))
        TxLog.create(orders.filter(col("o_orderkey") % 3 === 0), t) // v0
        TxLog.append(orders.filter(col("o_orderkey") % 3 === 1), t) // v1
        TxLog.append(orders.filter(col("o_orderkey") % 3 === 2), t) // v2
        Seq(0 -> 1000L, 1 -> 2000L, 2 -> 3000L).foreach { case (v, ts) =>
          TxLog.setCommitInstant(t, v, ts)
        }
        require(TxLog.versionAt(t, 2000L) == 1, "boundary must be inclusive")
        Seq(("t1500", 1500L), ("t2500", 2500L), ("t9999", 9999L)).map {
          case (label, ts) =>
            TxLog.readAt(s, t, ts)
              .agg(count(lit(1)).as("n_orders"),
                Stable.dsum(col("o_totalprice")).as("revenue"))
              .select(lit(label).as("instant"), col("n_orders"),
                col("revenue"))
        }.reduce(_ unionByName _).orderBy("instant")
      },
      Some("""SELECT 't1500' AS instant, CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders WHERE o_orderkey % 3 = 0
             |UNION ALL
             |SELECT 't2500', CAST(count(*) AS BIGINT),
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |FROM orders WHERE o_orderkey % 3 <> 2
             |UNION ALL
             |SELECT 't9999', CAST(count(*) AS BIGINT),
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |FROM orders
             |ORDER BY instant""".stripMargin)),

    // q379 — DELETION VECTORS (merge-on-read): two successive deletes
    // commit only the matching ROW POSITIONS — the data files are
    // NEVER rewritten (the in-query require pins an identical file set
    // across all three versions), readers anti-join
    // `_metadata.row_index` against the replayed vectors, and the
    // second delete unions on top of the first. This is the
    // O(matches)-commit delete a 100 TB table needs when a predicate
    // touches every file (copy-on-write q374 would rewrite the world);
    // OPTIMIZE (q378) is the materialization path that purges vectors.
    // Time travel composes: each version reads with ITS vectors.
    QuerySpec("q379_txlog_deletion_vectors",
      (s, dir) => {
        import graft.core.TxLog
        val t = Scratch.dir("txdv", dir)
        TxLog.drop(t)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"))
        TxLog.create(orders, t)                                      // v0
        TxLog.deleteWhereDV(s, t, col("o_orderpriority") === "5-LOW") // v1
        TxLog.deleteWhereDV(s, t, col("o_orderkey") % 7 === 0)        // v2
        require(TxLog.snapshot(t, Some(0)).toSet ==
          TxLog.snapshot(t, Some(2)).toSet,
          "merge-on-read delete must not rewrite any data file")
        require(TxLog.hasDeletionVectors(t),
          "no deletion vectors were committed")
        Seq(0, 1, 2).map { v =>
          TxLog.read(s, t, Some(v))
            .agg(count(lit(1)).as("n_orders"),
              Stable.dsum(col("o_totalprice")).as("revenue"))
            .select(lit(v).as("version"), col("n_orders"), col("revenue"))
        }.reduce(_ unionByName _).orderBy("version")
      },
      Some("""SELECT 0 AS version, CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders
             |UNION ALL
             |SELECT 1, CAST(count(*) AS BIGINT),
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |FROM orders WHERE o_orderpriority <> '5-LOW'
             |UNION ALL
             |SELECT 2, CAST(count(*) AS BIGINT),
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |FROM orders WHERE o_orderpriority <> '5-LOW' AND o_orderkey % 7 <> 0
             |ORDER BY version""".stripMargin)),

    // q406 — OPTIMIZE ZORDER skip-rate audit (the q274 analysis as a
    // real TABLE operation): a TxLog table committed in four
    // o_orderkey-ranged slabs (stats on BOTH columns) prunes perfectly
    // on the leading key but NOT AT ALL on o_custkey — every slab
    // spans the full customer range. `optimize(clusterBy = (o_custkey,
    // o_orderkey))` rewrites the live set along the 2-D Morton curve
    // into 8 files whose log-resident zone maps are tight on BOTH
    // dimensions: the in-query requires pin pre (custkey prune 4/4
    // kept = useless, orderkey 1/4) vs post (≤5/8 kept on EITHER
    // dimension — file boundaries come from a sampled range exchange,
    // so the pin carries one file of slack rather than an exact
    // count). The hashed output is pruning-noise-free: each phase
    // re-reads only its kept files and re-applies the row predicate,
    // so the aggregate equals the oracle's full-table predicate scan
    // — pruning proven lossless while the file counts stay in
    // require()s.
    QuerySpec("q406_txlog_zorder_optimize",
      (s, dir) => {
        import graft.core.TxLog
        val t = Scratch.dir("txzorder", dir)
        TxLog.drop(t)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val b = orders.agg(min(col("o_orderkey")), max(col("o_orderkey")),
          min(col("o_custkey")), max(col("o_custkey"))).head()
        val (mnO, mxO, mnC, mxC) =
          (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
        val qO = (mxO - mnO + 1) / 4
        (0 to 3).foreach { i => // orderkey-ranged slabs, stats on BOTH cols
          val lo = mnO + i * qO
          val sl = if (i < 3) orders.filter(col("o_orderkey") >= lo &&
            col("o_orderkey") < lo + qO)
          else orders.filter(col("o_orderkey") >= lo)
          TxLog.appendWithStats(s, sl.coalesce(1), t,
            Seq("o_custkey", "o_orderkey"))
        }
        val hiC = mnC + (mxC - mnC + 1) / 4 // first-quartile predicates
        val hiO = mnO + qO
        def kept(colName: String, lo: Long, hi: Long) =
          TxLog.pruneSnapshot(t, colName, lo, hi)
        val (preC, preT) = kept("o_custkey", mnC, hiC - 1)
        val (preO, _) = kept("o_orderkey", mnO, hiO - 1)
        require(preT == 4 && preC.size == 4 && preO.size == 1,
          s"pre-ZORDER: leading-key layout must prune orderkey 1/4 and " +
            s"custkey 4/4, got ${preO.size}/${preC.size} of $preT")
        TxLog.optimize(s, t, nFiles = 8,
          clusterBy = Seq("o_custkey", "o_orderkey"))
        val (postC, postT) = kept("o_custkey", mnC, hiC - 1)
        val (postO, _) = kept("o_orderkey", mnO, hiO - 1)
        require(postT == 8 && postC.size <= 5 && postO.size <= 5,
          s"post-ZORDER: both dimensions must prune (≤5/8), got " +
            s"custkey ${postC.size}, orderkey ${postO.size} of $postT")
        // hashed payload: the 2-D predicate served from the kept-file
        // INTERSECTION of both dimensions' zone maps, row predicate
        // re-applied — value-equal to the oracle's full scan
        Seq(("post_zorder", postC.toSet intersect postO.toSet, 8),
          ("pre_zorder", preC.toSet intersect preO.toSet, 4)).map {
          case (phase, files, nf) =>
            s.read.parquet(files.toSeq.sorted.map(f => s"$t/$f"): _*)
              .filter(col("o_custkey") >= mnC && col("o_custkey") < hiC &&
                col("o_orderkey") >= mnO && col("o_orderkey") < hiO)
              .agg(count(lit(1)).as("n_orders"),
                Stable.dsum(col("o_totalprice")).as("revenue"))
              .select(lit(phase).as("phase"), lit(nf).as("files_total"),
                col("n_orders"), col("revenue"))
        }.reduce(_ unionByName _).orderBy("phase")
      },
      Some("""WITH b AS (SELECT min(o_orderkey) AS mno, max(o_orderkey) AS mxo,
             |    min(o_custkey) AS mnc, max(o_custkey) AS mxc FROM orders),
             |p AS (SELECT mno, mnc,
             |    mno + (mxo - mno + 1) // 4 AS hio,
             |    mnc + (mxc - mnc + 1) // 4 AS hic FROM b),
             |a AS (SELECT CAST(count(*) AS BIGINT) AS n_orders,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |  FROM orders, p
             |  WHERE o_custkey >= mnc AND o_custkey < hic
             |    AND o_orderkey >= mno AND o_orderkey < hio)
             |SELECT 'post_zorder' AS phase, 8 AS files_total, n_orders, revenue FROM a
             |UNION ALL
             |SELECT 'pre_zorder', 4, n_orders, revenue FROM a
             |ORDER BY phase""".stripMargin)),

    // q407 — PARTITIONED TxLog table: appendPartitioned records each
    // file's partition values as log-line markers, so the
    // o_orderpriority predicate prunes the file list from LOG METADATA
    // ALONE — no footer IO, no directory listing (readWhere; the
    // in-query require pins that exactly the 1-of-5 value's files
    // survive, with the partition columns still IN the data files,
    // Iceberg-style). The hashed output aggregates the pruned read by
    // order year against the oracle's row-filtered full scan — pruning
    // proven lossless under the hash.
    QuerySpec("q407_txlog_partitioned",
      (s, dir) => {
        import graft.core.TxLog
        val t = Scratch.dir("txpart", dir)
        TxLog.drop(t)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderdate"), col("o_orderpriority"))
        // two upstream tasks × 5 priorities → 10 value-pure files
        TxLog.appendPartitioned(s, orders.repartition(2), t,
          Seq("o_orderpriority"))
        val (kept, total) =
          TxLog.prunePartitions(t, Map("o_orderpriority" -> "1-URGENT"))
        require(total >= 5 && kept.size * 5 == total,
          s"expected exactly the 1-of-5 value's files kept, " +
            s"got ${kept.size}/$total")
        TxLog.readWhere(s, t, Map("o_orderpriority" -> "1-URGENT"))
          .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
          .agg(count(lit(1)).as("n_orders"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .orderBy("yr")
      },
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             |  CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders WHERE o_orderpriority = '1-URGENT'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q408 — the TxLog CONNECTOR (`spark.read.format("txlog")`): the
    // lakehouse consumed through the standard reader API instead of
    // the Scala one — a custom FileIndex under HadoopFsRelation (the
    // Delta batch-read shape), so the scan is Spark's native
    // vectorized parquet scan and the connector contributes PLAN-TIME
    // file pruning from log-resident zone maps. Four orderkey-slab
    // commits with pinned instants; the in-query requires pin that a
    // top-quartile predicate through the connector scanned 1 of 4
    // files (TxLogSourceIO ground truth) and that `versionAsOf` /
    // `timestampAsOf` options resolve to the same v1 state; the hash
    // gate then proves all three reads value-equal to predicate
    // recompute on the raw table.
    QuerySpec("q408_txlog_connector",
      (s, dir) => {
        import graft.core.TxLog
        import graft.sources.TxLogSourceIO
        val t = Scratch.dir("txconn", dir)
        TxLog.drop(t)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        val b = orders.agg(min(col("o_orderkey")), max(col("o_orderkey")))
          .head()
        val (mn, mx) = (b.getLong(0), b.getLong(1))
        val q = (mx - mn + 1) / 4
        (0 to 3).foreach { i =>
          val lo = mn + i * q
          val sl = if (i < 3) orders.filter(col("o_orderkey") >= lo &&
            col("o_orderkey") < lo + q)
          else orders.filter(col("o_orderkey") >= lo)
          TxLog.appendWithStats(s, sl.coalesce(1), t, "o_orderkey")
          TxLog.setCommitInstant(t, i, 1000L * (i + 1))
        }
        val plo = mn + 3 * q
        val pruned = s.read.format("txlog").load(t)
          .filter(col("o_orderkey") >= plo)
        pruned.count() // force a scan so the pruning counters are real
        require(TxLogSourceIO.lastTotal.get() == 4 &&
          TxLogSourceIO.lastKept.get() == 1,
          s"connector zone maps must keep 1 of 4 files, kept " +
            s"${TxLogSourceIO.lastKept.get()}/${TxLogSourceIO.lastTotal.get()}")
        val v1 = s.read.format("txlog").option("versionAsOf", "1").load(t)
        val t1 = s.read.format("txlog").option("timestampAsOf", "2500")
          .load(t)
        Seq(("latest_pruned", pruned), ("v1_timestamp_as_of", t1),
          ("v1_version_as_of", v1)).map { case (label, df) =>
          df.agg(count(lit(1)).as("n_orders"),
              Stable.dsum(col("o_totalprice")).as("revenue"))
            .select(lit(label).as("probe"), col("n_orders"), col("revenue"))
        }.reduce(_ unionByName _).orderBy("probe")
      },
      Some("""WITH b AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx
             |  FROM orders),
             |p AS (SELECT mn + 3 * ((mx - mn + 1) // 4) AS plo,
             |    mn + 2 * ((mx - mn + 1) // 4) AS v1hi FROM b)
             |SELECT 'latest_pruned' AS probe, CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders, p WHERE o_orderkey >= p.plo
             |UNION ALL
             |SELECT 'v1_timestamp_as_of', CAST(count(*) AS BIGINT),
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |FROM orders, p WHERE o_orderkey < p.v1hi
             |UNION ALL
             |SELECT 'v1_version_as_of', CAST(count(*) AS BIGINT),
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |FROM orders, p WHERE o_orderkey < p.v1hi
             |ORDER BY probe""".stripMargin)),

    // q410 — the TxLog connector WRITE path: the full round trip
    // through the standard writer API. Append creates v0 and appends
    // v1; Overwrite is a versioned REPLACE — one atomic commit swaps
    // the live set, so the pre-overwrite state STILL READS through
    // `versionAsOf` (an INSERT OVERWRITE that time travel survives,
    // which a directory rewrite cannot offer). The three probes hash
    // against predicate recompute: v0 = even keys, v1 = all keys,
    // latest = the replaced high-value slice.
    QuerySpec("q410_txlog_connector_write",
      (s, dir) => {
        import graft.core.TxLog
        val t = Scratch.dir("txwrite", dir)
        TxLog.drop(t)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        orders.filter(col("o_orderkey") % 2 === 0)
          .write.format("txlog").mode("append").save(t) // v0 create
        orders.filter(col("o_orderkey") % 2 =!= 0)
          .write.format("txlog").mode("append").save(t) // v1 append
        orders.filter(col("o_totalprice") > 300000)
          .write.format("txlog").mode("overwrite").save(t) // v2 replace
        Seq(("latest_replaced", None), ("v0_even", Some("0")),
          ("v1_all", Some("1"))).map { case (label, v) =>
          val r = v.foldLeft(s.read.format("txlog"))(
            (rd, ver) => rd.option("versionAsOf", ver)).load(t)
          r.agg(count(lit(1)).as("n_orders"),
              Stable.dsum(col("o_totalprice")).as("revenue"))
            .select(lit(label).as("probe"), col("n_orders"), col("revenue"))
        }.reduce(_ unionByName _).orderBy("probe")
      },
      Some("""SELECT 'latest_replaced' AS probe,
             |  CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders WHERE o_totalprice > 300000
             |UNION ALL
             |SELECT 'v0_even', CAST(count(*) AS BIGINT),
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |FROM orders WHERE o_orderkey % 2 = 0
             |UNION ALL
             |SELECT 'v1_all', CAST(count(*) AS BIGINT),
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |FROM orders
             |ORDER BY probe""".stripMargin)),

    // q411 — the TxLog connector STREAMING read: the commit log tailed
    // as a structured stream (`readStream.format("txlog")` — offsets
    // are VERSIONS, each batch exactly the files its versions added;
    // the Delta streaming-source shape, incremental restarts pinned in
    // TxLogSourceSpec). Three commits, two probes under the hash:
    // tailing from the start reproduces the whole table; tailing from
    // startingVersion=2 reproduces exactly the third commit's slice —
    // CDF consumption proven value-equal to predicate recompute.
    QuerySpec("q411_txlog_stream_tail",
      (s, dir) => {
        import graft.core.TxLog
        val t = Scratch.dir("txtail", dir)
        TxLog.drop(t)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        (0 to 2).foreach(m =>
          TxLog.append(orders.filter(col("o_orderkey") % 3 === m), t))
        def drain(opts: Map[String, String]): org.apache.spark.sql.DataFrame = {
          val mem = "q411_" +
            java.util.UUID.randomUUID().toString.replace("-", "")
          val ck = Scratch.streamCk()
          val q = opts.foldLeft(s.readStream.format("txlog")) {
              case (r, (k, v)) => r.option(k, v)
            }.load(t)
            .writeStream.format("memory").queryName(mem)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          Scratch.dropCk(ck)
          s.table(mem)
        }
        Seq(("full_tail", Map.empty[String, String]),
          ("from_v2", Map("startingVersion" -> "2"))).map {
          case (label, opts) =>
            drain(opts).agg(count(lit(1)).as("n_orders"),
                Stable.dsum(col("o_totalprice")).as("revenue"))
              .select(lit(label).as("probe"), col("n_orders"), col("revenue"))
        }.reduce(_ unionByName _).orderBy("probe")
      },
      Some("""SELECT 'from_v2' AS probe, CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders WHERE o_orderkey % 3 = 2
             |UNION ALL
             |SELECT 'full_tail', CAST(count(*) AS BIGINT),
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |FROM orders
             |ORDER BY probe""".stripMargin)),

    // q412 — DESCRIBE HISTORY through the connector
    // (`option("history", "true")`): the audit surface every lakehouse
    // table ships — one row per version with its add/remove/DV line
    // counts, straight from log metadata (no data IO at any table
    // size). The table runs the full mutation alphabet — create,
    // append, merge-on-read DV delete, OPTIMIZE compaction — and every
    // count is construction-determined (coalesce(1) staging; the DV
    // delete touches exactly the two live files), so the history rows
    // hash against their expected literals; the wall-clock instant
    // column stays OUT of the compared output.
    QuerySpec("q412_txlog_history",
      (s, dir) => {
        import graft.core.TxLog
        val t = Scratch.dir("txhist", dir)
        TxLog.drop(t)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        TxLog.create(orders.filter(col("o_orderkey") % 2 === 0)
          .coalesce(1), t) // v0: 1 add
        TxLog.append(orders.filter(col("o_orderkey") % 2 =!= 0)
          .coalesce(1), t) // v1: 1 add
        TxLog.deleteWhereDV(s, t, // multiples of 5 exist in BOTH parity
          col("o_orderkey") % 5 === 0) // files → v2: exactly 2 dvf lines
        TxLog.optimize(s, t, nFiles = 1) // v3: 1 add, 2 removes
        s.read.format("txlog").option("history", "true").load(t)
          .select(col("version"), col("n_adds"), col("n_removes"),
            col("n_dv"))
          .orderBy("version")
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
             |  (1, 1, 0, 0),
             |  (2, 0, 0, 2),
             |  (3, 1, 2, 0)) t(version, n_adds, n_removes, n_dv)
             |ORDER BY version""".stripMargin)),

    // q380 — SCHEMA EVOLUTION through the log: version 1 appends rows
    // carrying a column version 0 never had; the table schema is the
    // UNION (mergeSchema over the live file list) and pre-evolution
    // rows read the new column as NULL — no rewrite, no backfill,
    // the additive-evolution contract every long-lived table needs.
    // The aggregate splits on the new column's nullness, so the gate
    // verifies exactly which rows carry it.
    QuerySpec("q380_txlog_schema_evolution",
      (s, dir) => {
        import graft.core.TxLog
        val t = Scratch.dir("txevo", dir)
        TxLog.drop(t)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        TxLog.create(orders.filter(col("o_orderkey") % 2 === 0), t)
        TxLog.append(orders.filter(col("o_orderkey") % 2 =!= 0)
          .withColumn("priority_rank",
            (col("o_orderkey") % 5 + 1).cast("int")), t)
        TxLog.read(s, t)
          .groupBy(col("priority_rank").isNull.as("legacy_row"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("priority_rank").cast("long")).as("rank_sum"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .orderBy("legacy_row")
      },
      Some("""SELECT (o_orderkey % 2 = 0) AS legacy_row,
             |  CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CASE WHEN o_orderkey % 2 <> 0
             |      THEN o_orderkey % 5 + 1 END) AS BIGINT) AS rank_sum,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q413 — the TxLog connector STREAMING SINK: log-to-log replication
    // through `writeStream.format("txlog")`, the last cell of the
    // connector matrix (batch read/write and streaming read are
    // q408/q410/q411). Each micro-batch commits via the idempotent-txn
    // protocol (batch id = transaction id, app id = checkpoint), so a
    // checkpoint-recovery replay re-commits NOTHING — exactly-once as a
    // log property, proven at the sink grain in TxLogSourceSpec. The
    // query pins the incremental property end-to-end: drain, append a
    // fourth commit upstream, RESTART on the same checkpoint — the
    // restarted stream ships only the new version (a re-ship would
    // double the totals and break the hash).
    QuerySpec("q413_txlog_stream_sink",
      (s, dir) => {
        import graft.core.TxLog
        val src = Scratch.dir("txsinksrc", dir)
        val dst = Scratch.dir("txsinkdst", dir)
        val cp = Scratch.dir("txsinkcp", dir)
        Seq(src, dst, cp).foreach(TxLog.drop)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        (0 to 2).foreach(m =>
          TxLog.append(orders.filter(col("o_orderkey") % 3 === m), src))
        def drain(): Unit = {
          val q = s.readStream.format("txlog").load(src)
            .writeStream.format("txlog")
            .option("checkpointLocation", cp)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(dst)
          q.awaitTermination()
        }
        drain() // ships v0..v2
        TxLog.append(orders.filter(col("o_totalprice") > 250000), src)
        drain() // restart: same checkpoint, ships ONLY v3
        s.read.format("txlog").load(dst)
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM (SELECT o_totalprice FROM orders
             |      UNION ALL
             |      SELECT o_totalprice FROM orders
             |      WHERE o_totalprice > 250000)""".stripMargin)),

    // q414 — CHANGE DATA FEED: row-level deltas between versions
    // (`option("readChangeFeed", "true")`), so a downstream consumer
    // reads CHANGES instead of re-reading snapshots — the incremental
    // contract the reference's full-reload DAGs lack entirely, and the
    // one that matters most at 100 TB (a snapshot diff re-scans the
    // corpus; the feed reads exactly the touched rows). The table runs
    // the full mutation alphabet and the feed is pinned per
    // (change_type, version): create + append are inserts; the
    // merge-on-read DV delete surfaces the deleted rows themselves;
    // OPTIMIZE carries the no-data-change marker and must emit NOTHING
    // (a compaction that leaked into the feed would double-insert the
    // whole table — the hash catches exactly that); the copy-on-write
    // delete shows delete+insert pairs for the rewritten file's
    // survivors. Every probe recomputes from predicates in DuckDB.
    QuerySpec("q414_txlog_change_feed",
      (s, dir) => {
        import graft.core.TxLog
        val t = Scratch.dir("txcdf", dir)
        TxLog.drop(t)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        TxLog.create(orders.filter(col("o_orderkey") % 2 === 0), t)  // v0
        TxLog.append(orders.filter(col("o_orderkey") % 2 =!= 0), t)  // v1
        TxLog.deleteWhereDV(s, t, col("o_orderkey") % 5 === 0)       // v2
        TxLog.optimize(s, t, nFiles = 1)                  // v3: nodc
        TxLog.deleteWhere(s, t, col("o_totalprice") > 300000)        // v4
        s.read.format("txlog").option("readChangeFeed", "true").load(t)
          .groupBy(col("_change_type").as("change_type"),
            col("_commit_version").as("commit_version"))
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .orderBy("commit_version", "change_type")
      },
      Some("""SELECT * FROM (
             |  SELECT 'insert' AS change_type, CAST(0 AS BIGINT) AS commit_version,
             |    CAST(count(*) AS BIGINT) AS n_rows,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |  FROM orders WHERE o_orderkey % 2 = 0
             |  UNION ALL
             |  SELECT 'insert', 1, CAST(count(*) AS BIGINT),
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |  FROM orders WHERE o_orderkey % 2 <> 0
             |  UNION ALL
             |  SELECT 'delete', 2, CAST(count(*) AS BIGINT),
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |  FROM orders WHERE o_orderkey % 5 = 0
             |  UNION ALL
             |  SELECT 'delete', 4, CAST(count(*) AS BIGINT),
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |  FROM orders WHERE o_orderkey % 5 <> 0
             |  UNION ALL
             |  SELECT 'insert', 4, CAST(count(*) AS BIGINT),
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |  FROM orders WHERE o_orderkey % 5 <> 0 AND o_totalprice <= 300000
             |) ORDER BY commit_version, change_type""".stripMargin)),

    // q415 — STREAMING change data feed: `readStream` +
    // `option("readChangeFeed", "true")` tails the table as row-level
    // CHANGES (deletes are first-class rows carrying _change_type /
    // _commit_version), the shape a downstream materializer consumes to
    // maintain a replica without ever re-scanning the source — the
    // streaming completion of q414's batch feed. One AvailableNow drain
    // over create + append + merge-on-read DV delete; the memory-sink
    // contents are pinned per (type, version) against predicate
    // recompute, so a dropped delete or a double-shipped insert breaks
    // the hash.
    QuerySpec("q415_txlog_stream_cdf",
      (s, dir) => {
        import graft.core.TxLog
        val t = Scratch.dir("txscdf", dir)
        TxLog.drop(t)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        TxLog.create(orders.filter(col("o_orderkey") % 2 === 0), t) // v0
        TxLog.append(orders.filter(col("o_orderkey") % 2 =!= 0), t) // v1
        TxLog.deleteWhereDV(s, t, col("o_orderkey") % 5 === 0)      // v2
        val mem = "q415_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        val ck = Scratch.streamCk()
        val q = s.readStream.format("txlog")
          .option("readChangeFeed", "true").load(t)
          .writeStream.format("memory").queryName(mem)
          .option("checkpointLocation", ck)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        Scratch.dropCk(ck)
        s.table(mem)
          .groupBy(col("_change_type").as("change_type"),
            col("_commit_version").as("commit_version"))
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .orderBy("commit_version", "change_type")
      },
      Some("""SELECT * FROM (
             |  SELECT 'insert' AS change_type, CAST(0 AS BIGINT) AS commit_version,
             |    CAST(count(*) AS BIGINT) AS n_rows,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |  FROM orders WHERE o_orderkey % 2 = 0
             |  UNION ALL
             |  SELECT 'insert', 1, CAST(count(*) AS BIGINT),
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |  FROM orders WHERE o_orderkey % 2 <> 0
             |  UNION ALL
             |  SELECT 'delete', 2, CAST(count(*) AS BIGINT),
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |  FROM orders WHERE o_orderkey % 5 = 0
             |) ORDER BY commit_version, change_type""".stripMargin)),

    // q416 — LOG-RESIDENT CHECK CONSTRAINTS: the constraint is table
    // metadata (a log line, checkpoint-carried), validated against
    // EXISTING rows when added and against every subsequent batch by
    // every writer — the Delta ALTER TABLE ADD CONSTRAINT governance
    // surface. Three enforcement probes live under one hash: an
    // unsatisfiable constraint is REFUSED at add time (existing rows
    // violate), a negated-price batch is REJECTED atomically (nothing
    // commits — the final totals prove the table never saw it), and the
    // valid slices land. The rejected flags enter the output as
    // literal columns, so a silently-accepted bad batch flips BOTH the
    // flag and the aggregate.
    QuerySpec("q416_txlog_check_constraint",
      (s, dir) => {
        import graft.core.TxLog
        val t = Scratch.dir("txcheck", dir)
        TxLog.drop(t)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        TxLog.create(orders.filter(col("o_orderkey") % 3 === 0), t)
        val ddlRejected =
          try { TxLog.addConstraint(s, t, "too_strict",
            "o_totalprice > 100000"): Unit; 0L }
          catch { case _: IllegalArgumentException => 1L }
        TxLog.addConstraint(s, t, "price_positive", "o_totalprice > 0")
        TxLog.append(orders.filter(col("o_orderkey") % 3 === 1), t)
        val batchRejected =
          try { TxLog.append(orders.filter(col("o_orderkey") % 3 === 2)
            .withColumn("o_totalprice", -col("o_totalprice")), t): Unit; 0L }
          catch { case _: IllegalArgumentException => 1L }
        TxLog.append(orders.filter(col("o_orderkey") % 3 === 2), t)
        TxLog.read(s, t)
          .agg(count(lit(1)).as("n_orders"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .select(lit(ddlRejected).as("ddl_rejected"),
            lit(batchRejected).as("batch_rejected"),
            col("n_orders"), col("revenue"))
      },
      Some("""SELECT CAST(1 AS BIGINT) AS ddl_rejected,
             |  CAST(1 AS BIGINT) AS batch_rejected,
             |  CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders""".stripMargin)),

    // q417 — STRING zone maps: data skipping on string columns (binary
    // UTF8 [min, max] as escaped `s:` markers on the add line — Delta
    // keeps string stats too; integral-only skipping leaves every
    // dimension-coded column unprunable). Three priority-banded commits;
    // the in-query requires pin that BOTH an equality and a RANGE
    // predicate through the connector scanned exactly 1 of 3 files
    // (TxLogSourceIO ground truth — file layout is deterministic here,
    // one coalesced file per append, no sampled exchange), and the hash
    // gate proves both reads value-equal to predicate recompute.
    QuerySpec("q417_txlog_string_zonemap",
      (s, dir) => {
        import graft.core.TxLog
        import graft.sources.TxLogSourceIO
        val t = Scratch.dir("txstrz", dir)
        TxLog.drop(t)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice"))
        Seq(Seq("1", "2"), Seq("3"), Seq("4", "5")).foreach { ps =>
          TxLog.appendWithStats(s,
            orders.filter(substring(col("o_orderpriority"), 1, 1)
              .isin(ps: _*)).coalesce(1), t, Seq("o_orderpriority")): Unit
        }
        def probe(name: String, pred: org.apache.spark.sql.Column)
            : org.apache.spark.sql.DataFrame = {
          val df = s.read.format("txlog").load(t).filter(pred)
          df.count() // force the scan so the pruning counters are real
          require(TxLogSourceIO.lastTotal.get() == 3 &&
            TxLogSourceIO.lastKept.get() == 1,
            s"string zone maps must keep 1 of 3 files for $name, kept " +
              s"${TxLogSourceIO.lastKept.get()}/${TxLogSourceIO.lastTotal.get()}")
          df.agg(count(lit(1)).as("n_orders"),
              Stable.dsum(col("o_totalprice")).as("revenue"))
            .select(lit(name).as("probe"), col("n_orders"), col("revenue"))
        }
        probe("eq_5low", col("o_orderpriority") === "5-LOW")
          .unionByName(probe("range_lt_3", col("o_orderpriority") < "3"))
          .orderBy("probe")
      },
      Some("""SELECT 'eq_5low' AS probe, CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders WHERE o_orderpriority = '5-LOW'
             |UNION ALL
             |SELECT 'range_lt_3', CAST(count(*) AS BIGINT),
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |FROM orders WHERE o_orderpriority < '3'
             |ORDER BY probe""".stripMargin)),

    // q418 — IN-LOG SCHEMA (Delta's metaData action): data commits
    // record the table's union schema as a log line, so the one state
    // parquet footers cannot serve — a table EMPTIED by deletes whose
    // removed files were since VACUUMED — still reads as an empty frame
    // with the full evolved schema instead of failing
    // schema-unrecoverable. The probes pin the before/after: full
    // totals (materialized before the delete — lazy frames would
    // re-read the emptied table), then the emptied+vacuumed read's row
    // count AND its column list, which must still carry the column only
    // the evolving append introduced.
    QuerySpec("q418_txlog_schema_metadata",
      (s, dir) => {
        import graft.core.TxLog
        val t = Scratch.dir("txschema", dir)
        TxLog.drop(t)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        TxLog.create(orders.filter(col("o_orderkey") % 2 === 0), t)
        TxLog.append(orders.filter(col("o_orderkey") % 2 =!= 0)
          .withColumn("priority_rank",
            (col("o_orderkey") % 5 + 1).cast("int")), t)
        val full = TxLog.read(s, t)
          .agg(count(lit(1)).cast("long")).head().getLong(0)
        TxLog.deleteWhere(s, t, lit(true))
        TxLog.vacuum(t, retainAfter = TxLog.currentVersion(t), minAgeMs = 0)
        val empty = TxLog.read(s, t)
        Seq(("emptied_vacuumed", empty.count(),
          empty.schema.fieldNames.mkString(",")),
          ("full_before_delete", full,
            "o_orderkey,o_totalprice,priority_rank"))
          .map { case (probe, n, cols) =>
            s.range(1).select(lit(probe).as("probe"),
              lit(n).as("n_rows"), lit(cols).as("schema_cols"))
          }.reduce(_ unionByName _).orderBy("probe")
      },
      Some("""SELECT 'emptied_vacuumed' AS probe, CAST(0 AS BIGINT) AS n_rows,
             |  'o_orderkey,o_totalprice,priority_rank' AS schema_cols
             |UNION ALL
             |SELECT 'full_before_delete', CAST(count(*) AS BIGINT),
             |  'o_orderkey,o_totalprice,priority_rank'
             |FROM orders
             |ORDER BY probe""".stripMargin)),

    // q419 — RESTORE: the bad-deploy undo every lakehouse needs
    // (Delta's RESTORE TABLE). A destructive overwrite lands at v3;
    // restore(2) re-commits the v2 state — live files AND their
    // outstanding deletion vectors, zero data IO (the target's verbatim
    // add lines) — while v3 stays time-travelable for the audit. Two
    // probes under one hash: the restored latest equals the
    // pre-overwrite predicate recompute (with the DV delete still
    // applied — vectors snap back with the files), and versionAsOf 3
    // still serves the bad state.
    QuerySpec("q419_txlog_restore",
      (s, dir) => {
        import graft.core.TxLog
        val t = Scratch.dir("txrestore", dir)
        TxLog.drop(t)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        TxLog.create(orders.filter(col("o_orderkey") % 2 === 0), t) // v0
        TxLog.append(orders.filter(col("o_orderkey") % 2 =!= 0), t) // v1
        TxLog.deleteWhereDV(s, t, col("o_orderkey") % 5 === 0)      // v2
        TxLog.replace(orders.filter(col("o_totalprice") > 300000), t) // v3
        TxLog.restore(t, 2)                                         // v4
        Seq(("restored_latest", TxLog.read(s, t)),
          ("bad_still_travelable",
            s.read.format("txlog").option("versionAsOf", "3").load(t)))
          .map { case (label, df) =>
            df.agg(count(lit(1)).as("n_orders"),
                Stable.dsum(col("o_totalprice")).as("revenue"))
              .select(lit(label).as("probe"), col("n_orders"), col("revenue"))
          }.reduce(_ unionByName _).orderBy("probe")
      },
      Some("""SELECT 'bad_still_travelable' AS probe,
             |  CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders WHERE o_totalprice > 300000
             |UNION ALL
             |SELECT 'restored_latest', CAST(count(*) AS BIGINT),
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |FROM orders WHERE o_orderkey % 5 <> 0
             |ORDER BY probe""".stripMargin)),

    // q420 — ADMISSION CONTROL: `Trigger.AvailableNow` paired with
    // `maxVersionsPerTrigger` drains a whole backlog as bounded,
    // individually-checkpointed batches and STOPS at the start-time
    // snapshot — the refinement DSv1 alone could not express (NOTES
    // r10 named the gap: AvailableNow used to stop at the first capped
    // offer). The source now implements the connector-level
    // SupportsTriggerAvailableNow / SupportsAdmissionControl contract
    // (the KafkaSource pattern: MicroBatchExecution dispatches on the
    // interface, so the engine hands the checkpointed start offset and
    // the read limit to latestOffset). The batch STRUCTURE is pinned
    // under the hash via the sink side: the exactly-once txlog sink
    // commits exactly one destination version per micro-batch, so a
    // 6-version backlog at cap 2 must land as exactly 3 sink commits —
    // one giant catch-up batch (the old drain) or a first-offer stall
    // (the old AvailableNow) would both flip n_batches.
    QuerySpec("q420_txlog_availablenow_ratelimit",
      (s, dir) => {
        import graft.core.TxLog
        val src = Scratch.dir("txansrc", dir)
        val dst = Scratch.dir("txandst", dir)
        val cp = Scratch.dir("txancp", dir)
        Seq(src, dst, cp).foreach(TxLog.drop)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        (0 to 5).foreach(m =>
          TxLog.append(orders.filter(col("o_orderkey") % 6 === m), src))
        val q = s.readStream.format("txlog")
          .option("maxVersionsPerTrigger", "2").load(src)
          .writeStream.format("txlog")
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(dst)
        q.awaitTermination()
        val nBatches = (TxLog.currentVersion(dst) + 1).toLong
        s.read.format("txlog").load(dst)
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .select(lit(nBatches).as("n_batches"), col("n_rows"),
            col("revenue"))
      },
      Some("""SELECT CAST(3 AS BIGINT) AS n_batches,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders""".stripMargin)),

    // q421 — SQL DML over the lakehouse: a runtime-registered
    // TableCatalog resolves txlog tables by NAME, and the DML
    // resolution rule (graft.plans.TxLogDmlRule, injected through
    // GraftExtensions — the Delta analysis-command shape) routes
    // MERGE INTO / UPDATE / DELETE FROM onto the log protocol's
    // copy-on-write transactions. The full statement alphabet runs in
    // sequence — a three-clause MERGE (conditional DELETE, UPDATE,
    // INSERT), an UPDATE ... WHERE, a DELETE ... WHERE — and the final
    // state is hashed against the same net effect derived relationally
    // in DuckDB (the q276 discipline, now executed by SQL statements
    // against a real table instead of a frame expression). Each DML
    // statement is ONE atomic log version; the closing version count
    // enters the hash, so a statement that silently split or no-opped
    // flips the row. Reference analog: the load/reset DML in
    // `DDL Final.sql:338-352`.
    QuerySpec("q421_txlog_sql_dml",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q421m"
        TxLog.drop(t)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        val orders = Tables.load(s, dir, "orders")
        TxLog.create(orders.filter(col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority")), t)
        orders.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey").as("k"),
            (col("o_totalprice") + 1000.0).as("np"))
          .createOrReplaceTempView("q421_src")
        s.sql("""
          MERGE INTO graft_lake.q421m t USING q421_src s ON t.o_orderkey = s.k
          WHEN MATCHED AND s.np > 200000 THEN DELETE
          WHEN MATCHED THEN UPDATE SET o_totalprice = s.np
          WHEN NOT MATCHED THEN
            INSERT (o_orderkey, o_totalprice, o_orderpriority)
            VALUES (s.k, s.np, 'merged')
        """)
        s.sql("UPDATE graft_lake.q421m SET o_totalprice = o_totalprice * 2 " +
          "WHERE o_orderkey % 5 = 0")
        s.sql("DELETE FROM graft_lake.q421m " +
          "WHERE o_orderpriority = 'merged' AND o_orderkey % 7 = 0")
        val versions = (TxLog.currentVersion(t)).toLong // create + 3 DML
        s.sql("SELECT * FROM graft_lake.q421m")
          .groupBy(when(col("o_orderpriority") === "merged", "merged")
            .otherwise("original").as("cls"))
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .select(col("cls"), lit(versions).as("n_dml_versions"),
            col("n_rows"), col("revenue"))
          .orderBy("cls")
      },
      Some("""WITH t AS (
             |  SELECT o_orderkey AS k, o_totalprice AS p,
             |    o_orderpriority AS pr
             |  FROM orders WHERE o_orderkey % 3 <> 0),
             |s AS (
             |  SELECT o_orderkey AS k, o_totalprice + 1000.0 AS np
             |  FROM orders WHERE o_orderkey % 2 = 0),
             |merged AS (
             |  SELECT t.k, CASE WHEN s.k IS NOT NULL THEN s.np ELSE t.p END AS p,
             |    t.pr
             |  FROM t LEFT JOIN s ON t.k = s.k
             |  WHERE NOT (s.k IS NOT NULL AND s.np > 200000)
             |  UNION ALL
             |  SELECT s.k, s.np, 'merged'
             |  FROM s LEFT JOIN t ON s.k = t.k WHERE t.k IS NULL),
             |updated AS (
             |  SELECT k, CASE WHEN k % 5 = 0 THEN p * 2 ELSE p END AS p, pr
             |  FROM merged),
             |final AS (
             |  SELECT * FROM updated WHERE NOT (pr = 'merged' AND k % 7 = 0))
             |SELECT CASE WHEN pr = 'merged' THEN 'merged'
             |    ELSE 'original' END AS cls,
             |  CAST(3 AS BIGINT) AS n_dml_versions,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM final GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q422 — MULTI-TABLE ATOMIC TRANSACTIONS: a star-schema load lands
    // fact + dimension in ONE cross-table commit instant
    // (TxLog.appendAll — each table's version entry is an `xref` line
    // into a shared transaction file whose single hard-link publish is
    // the commit point for all tables; crash windows resolve to
    // nothing, spec-pinned in TxLogSpec). The reference's whole job is
    // exactly this shape — `DDL Final.sql:338-352` loads dims then fact
    // in FK order and a failure mid-sequence leaves a torn warehouse;
    // here the second (incremental) load lands atomically too, and the
    // final fact⋈dim aggregate plus both tables' version counters go
    // under the oracle hash: a torn or re-run load flips either.
    QuerySpec("q422_txlog_multitable_txn",
      (s, dir) => {
        import graft.core.TxLog
        val root = Scratch.dir("txmulti", dir)
        val (fact, dimd) = (s"$root/fact", s"$root/dim")
        Seq(fact, dimd).foreach(TxLog.drop)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val cust = Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        // initial load: both tables created in one instant
        TxLog.appendAll(s"$root/_txn", Seq(
          orders.filter(col("o_orderkey") % 2 === 0) -> fact,
          cust.filter(col("c_custkey") % 2 === 0) -> dimd))
        // incremental load: the other halves, again atomic
        TxLog.appendAll(s"$root/_txn", Seq(
          orders.filter(col("o_orderkey") % 2 =!= 0) -> fact,
          cust.filter(col("c_custkey") % 2 =!= 0) -> dimd))
        val vf = TxLog.currentVersion(fact).toLong
        val vd = TxLog.currentVersion(dimd).toLong
        TxLog.read(s, fact)
          .join(TxLog.read(s, dimd),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n_orders"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .select(col("segment"), lit(vf).as("fact_version"),
            lit(vd).as("dim_version"), col("n_orders"), col("revenue"))
          .orderBy("segment")
      },
      Some("""SELECT c_mktsegment AS segment,
             |  CAST(1 AS BIGINT) AS fact_version,
             |  CAST(1 AS BIGINT) AS dim_version,
             |  CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q424 — MAINTENANCE SQL + SQL TIME TRAVEL: the statements a
    // lakehouse operator actually types — `OPTIMIZE ... ZORDER BY`,
    // `VACUUM ... RETAIN n VERSIONS`, `DESCRIBE HISTORY`, and
    // `SELECT ... VERSION AS OF` — running through the injected parser
    // (graft.plans.GraftSqlParser) and the TableCatalog's time-travel
    // loadTable. The hash pins: the file counts OPTIMIZE reports
    // (6 staged → 1 compacted), the history length, the vacuum
    // reclaim count under the conf'd age guard, and that the
    // pre-compaction snapshot and the compacted table hold the SAME
    // rows (nodc — layout moved, content didn't).
    QuerySpec("q424_txlog_maintenance_sql",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q424m"
        TxLog.drop(t)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        (0 to 2).foreach(m => TxLog.append(
          orders.filter(col("o_orderkey") % 3 === m).repartition(2), t))
        val opt = s.sql(
          "OPTIMIZE graft_lake.q424m ZORDER BY (o_orderkey, o_custkey)")
          .head()
        val histN = s.sql("DESCRIBE HISTORY graft_lake.q424m").count()
        // probe BOTH snapshots eagerly (1-row aggregates) — the
        // pre-optimize files are about to be vacuumed, and a lazy
        // frame would read them after reclamation
        def probe(sql: String): org.apache.spark.sql.Row =
          s.sql(sql).agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("o_totalprice")).as("revenue")).head()
        val latest = probe("SELECT * FROM graft_lake.q424m")
        val pre = probe("SELECT * FROM graft_lake.q424m VERSION AS OF 2")
        s.conf.set("spark.graft.txlog.vacuum.minAgeMs", "0")
        val reclaimed =
          try s.sql("VACUUM graft_lake.q424m RETAIN 1 VERSIONS")
            .head().getLong(0)
          finally s.conf.unset("spark.graft.txlog.vacuum.minAgeMs")
        import s.implicits._
        Seq(("latest", latest), ("pre_optimize", pre)).map { case (ph, r) =>
          (ph, opt.getLong(0), opt.getLong(1), histN, reclaimed,
            r.getLong(0), r.getDouble(1))
        }.toDF("probe", "files_before", "files_after", "n_versions",
          "files_reclaimed", "n_rows", "revenue")
          .orderBy("probe")
      },
      Some("""SELECT probe, CAST(6 AS BIGINT) AS files_before,
             |  CAST(1 AS BIGINT) AS files_after,
             |  CAST(4 AS BIGINT) AS n_versions,
             |  CAST(6 AS BIGINT) AS files_reclaimed,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders CROSS JOIN (VALUES ('latest'), ('pre_optimize')) p(probe)
             |GROUP BY probe ORDER BY probe""".stripMargin)),

    // q425 — STREAMING READS BY NAME (`readStream.table("lake.t")`,
    // VERDICT r11 #2): the SQL-addressable and streaming surfaces now
    // compose — the analyzer resolves the catalog table to a streaming
    // relation whose V1 fallback is the SAME hardened DSv1 source the
    // path API uses (TxLogStreamingRule), so admission control carries
    // over verbatim: a 4-version backlog at maxVersionsPerTrigger=2
    // under Trigger.AvailableNow drains as exactly 2 bounded batches
    // (pinned through the exactly-once sink's version counter — one
    // destination commit per micro-batch), stopping at the start-time
    // snapshot. Restart continuity through the catalog path is pinned
    // in TxLogSourceSpec.
    QuerySpec("q425_stream_table_by_name",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q425src"
        val dst = Scratch.dir("q425dst", dir)
        val cp = Scratch.dir("q425cp", dir)
        Seq(t, dst, cp).foreach(TxLog.drop)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        (0 to 3).foreach(m =>
          TxLog.append(orders.filter(col("o_orderkey") % 4 === m), t))
        val q = s.readStream
          .option("maxVersionsPerTrigger", "2")
          .table("graft_lake.q425src")
          .writeStream.format("txlog")
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(dst)
        q.awaitTermination()
        val nBatches = (TxLog.currentVersion(dst) + 1).toLong
        s.read.format("txlog").load(dst)
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .select(lit(nBatches).as("n_batches"), col("n_rows"),
            col("revenue"))
      },
      Some("""SELECT CAST(2 AS BIGINT) AS n_batches,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders""".stripMargin)),

    // q426 — DML ON PATH-BASED RELATIONS (`txlog.`/path``, Delta's
    // `delta.`/path`` shape — VERDICT r11 #3): the full q421 statement
    // alphabet (three-clause MERGE, UPDATE ... WHERE, DELETE ... WHERE,
    // closing SELECT) runs against a BARE DIRECTORY with no catalog
    // registered — the resolution rule recognizes a two-part identifier
    // whose head is the source name and whose tail is a committed txlog
    // directory and resolves it to the path relation, for reads and
    // mutations alike. Same hash discipline as q421: the net state and
    // the per-statement version counter both enter the row.
    QuerySpec("q426_txlog_path_dml",
      (s, dir) => {
        import graft.core.TxLog
        val t = Scratch.dir("q426pdml", dir)
        TxLog.drop(t)
        val orders = Tables.load(s, dir, "orders")
        TxLog.create(orders.filter(col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority")), t)
        orders.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey").as("k"),
            (col("o_totalprice") + 1000.0).as("np"))
          .createOrReplaceTempView("q426_src")
        s.sql(s"""
          MERGE INTO txlog.`$t` t USING q426_src s ON t.o_orderkey = s.k
          WHEN MATCHED AND s.np > 200000 THEN DELETE
          WHEN MATCHED THEN UPDATE SET o_totalprice = s.np
          WHEN NOT MATCHED THEN
            INSERT (o_orderkey, o_totalprice, o_orderpriority)
            VALUES (s.k, s.np, 'merged')
        """)
        s.sql(s"UPDATE txlog.`$t` SET o_totalprice = o_totalprice * 2 " +
          "WHERE o_orderkey % 5 = 0")
        s.sql(s"DELETE FROM txlog.`$t` " +
          "WHERE o_orderpriority = 'merged' AND o_orderkey % 7 = 0")
        val versions = (TxLog.currentVersion(t)).toLong // create + 3 DML
        s.sql(s"SELECT * FROM txlog.`$t`")
          .groupBy(when(col("o_orderpriority") === "merged", "merged")
            .otherwise("original").as("cls"))
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .select(col("cls"), lit(versions).as("n_dml_versions"),
            col("n_rows"), col("revenue"))
          .orderBy("cls")
      },
      Some("""WITH t AS (
             |  SELECT o_orderkey AS k, o_totalprice AS p,
             |    o_orderpriority AS pr
             |  FROM orders WHERE o_orderkey % 3 <> 0),
             |s AS (
             |  SELECT o_orderkey AS k, o_totalprice + 1000.0 AS np
             |  FROM orders WHERE o_orderkey % 2 = 0),
             |merged AS (
             |  SELECT t.k, CASE WHEN s.k IS NOT NULL THEN s.np ELSE t.p END AS p,
             |    t.pr
             |  FROM t LEFT JOIN s ON t.k = s.k
             |  WHERE NOT (s.k IS NOT NULL AND s.np > 200000)
             |  UNION ALL
             |  SELECT s.k, s.np, 'merged'
             |  FROM s LEFT JOIN t ON s.k = t.k WHERE t.k IS NULL),
             |updated AS (
             |  SELECT k, CASE WHEN k % 5 = 0 THEN p * 2 ELSE p END AS p, pr
             |  FROM merged),
             |final AS (
             |  SELECT * FROM updated WHERE NOT (pr = 'merged' AND k % 7 = 0))
             |SELECT CASE WHEN pr = 'merged' THEN 'merged'
             |    ELSE 'original' END AS cls,
             |  CAST(3 AS BIGINT) AS n_dml_versions,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM final GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q427 — `ALTER TABLE ... ADD COLUMN` (VERDICT r11 #4): the SQL
    // verb bridges the catalog's alterTable to the in-log schema line
    // (TxLog.evolveSchema — a metadata-only commit, Delta's metaData
    // action); reads null-backfill the new column for every file
    // written before the evolution. The hash pins the whole lifecycle:
    // create → append → ADD COLUMN → append wider → scan, with the
    // backfilled vs present populations split, the evolved column
    // summed, and the version counter (2 data + 1 metadata commits)
    // under the row.
    QuerySpec("q427_txlog_add_column",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q427m"
        TxLog.drop(t)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        TxLog.create(orders.filter(col("o_orderkey") % 2 === 0), t) // v0
        s.sql("ALTER TABLE graft_lake.q427m ADD COLUMNS (bonus DOUBLE)") // v1
        TxLog.append(orders.filter(col("o_orderkey") % 2 =!= 0)
          .withColumn("bonus",
            (col("o_orderkey") % 100).cast("double")), t)           // v2
        val versions = TxLog.currentVersion(t).toLong
        s.sql("SELECT * FROM graft_lake.q427m")
          .groupBy(when(col("bonus").isNull, "backfilled")
            .otherwise("present").as("cls"))
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("o_totalprice")).as("revenue"),
            sum(coalesce(col("bonus"), lit(0.0))).as("bonus_total"))
          .select(col("cls"), lit(versions).as("n_versions"),
            col("n_rows"), col("revenue"), col("bonus_total"))
          .orderBy("cls")
      },
      Some("""SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'backfilled'
             |    ELSE 'present' END AS cls,
             |  CAST(2 AS BIGINT) AS n_versions,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             |  CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 0
             |    ELSE CAST(o_orderkey % 100 AS DOUBLE) END) AS DOUBLE)
             |    AS bonus_total
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q428 — CDF AS SQL (`table_changes`, VERDICT r11 #5 — Delta's
    // TVF): the change feed becomes queryable from pure SQL through an
    // injected table-valued function over TxLog.changeFeed, with the
    // end version defaulting to the current one. The probe reads the
    // feed from version 1 (skipping the create) over an append and a
    // merge-on-read DV delete, grouped per (change_type, version) —
    // the same shape q414 pins through the reader option, now as a
    // FROM-clause citizen composable with any SQL.
    QuerySpec("q428_table_changes_sql",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q428m"
        TxLog.drop(t)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        TxLog.create(orders.filter(col("o_orderkey") % 2 === 0), t) // v0
        TxLog.append(orders.filter(col("o_orderkey") % 2 =!= 0), t) // v1
        TxLog.deleteWhereDV(s, t, col("o_orderkey") % 5 === 0)      // v2
        s.sql("""SELECT _change_type AS change_type,
                 _commit_version AS commit_version, count(*) AS n_rows,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
               FROM table_changes('graft_lake.q428m', 1)
               GROUP BY 1, 2 ORDER BY commit_version, change_type""")
      },
      Some("""SELECT * FROM (
             |  SELECT 'insert' AS change_type, CAST(1 AS BIGINT) AS commit_version,
             |    CAST(count(*) AS BIGINT) AS n_rows,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |  FROM orders WHERE o_orderkey % 2 <> 0
             |  UNION ALL
             |  SELECT 'delete', 2, CAST(count(*) AS BIGINT),
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |  FROM orders WHERE o_orderkey % 5 = 0
             |) ORDER BY commit_version, change_type""".stripMargin)),

    // q429 — UNCORRELATED SUBQUERIES IN DML CONDITIONS (VERDICT r11
    // #8): `DELETE ... WHERE k IN (SELECT ...)` and an UPDATE whose SET
    // expression carries a scalar subquery both run against a txlog
    // table — the DML rule pre-evaluates uncorrelated subqueries to
    // literals (a constant for the whole statement; the IN-list is
    // bounded and refused beyond it — join-shaped mutations belong in
    // MERGE). The scalar is a count (an exact integer) so the update
    // arithmetic is engine-portable; correlated subqueries still refuse
    // with a clear message (spec-pinned).
    QuerySpec("q429_txlog_dml_subquery",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q429m"
        TxLog.drop(t)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        val orders = Tables.load(s, dir, "orders")
        TxLog.create(orders.filter(col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")), t)
        Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_acctbal"))
          .createOrReplaceTempView("q429_cust")
        s.sql("""DELETE FROM graft_lake.q429m WHERE o_custkey IN
                 (SELECT c_custkey FROM q429_cust WHERE c_acctbal < 0)""")
        s.sql("""UPDATE graft_lake.q429m SET o_totalprice = o_totalprice +
                 (SELECT count(*) FROM q429_cust WHERE c_acctbal > 9000)
               WHERE o_orderkey % 5 = 0""")
        val versions = TxLog.currentVersion(t).toLong
        s.sql("SELECT * FROM graft_lake.q429m")
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .select(lit(versions).as("n_versions"), col("n_rows"),
            col("revenue"))
      },
      Some("""WITH kept AS (
             |  SELECT o_orderkey AS k, o_totalprice AS p FROM orders
             |  WHERE o_orderkey % 3 <> 0 AND o_custkey NOT IN
             |    (SELECT c_custkey FROM customer WHERE c_acctbal < 0)),
             |bump AS (SELECT count(*) AS b FROM customer
             |         WHERE c_acctbal > 9000),
             |final AS (
             |  SELECT CASE WHEN k % 5 = 0 THEN p + b ELSE p END AS p
             |  FROM kept CROSS JOIN bump)
             |SELECT CAST(2 AS BIGINT) AS n_versions,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM final""".stripMargin)),

    // q431 — STREAMING WRITES BY NAME (`writeStream.toTable`): the
    // symmetric half of q425. The table declares STREAMING_WRITE:
    // executor tasks write their partitions as parquet files DIRECTLY
    // into the table directory (invisible until referenced — the
    // staging contract), and the driver commits each epoch through the
    // idempotent txn protocol keyed (queryId, epochId) — so the whole
    // path is exactly-once with no foreachBatch and no DSv1 sink. A
    // 4-version backlog at cap 2 must land as exactly 2 destination
    // epochs (the table auto-created by toTable at version 0, so the
    // counter pins batch structure AND creation), and the rows read
    // back BY NAME must equal the source relation.
    QuerySpec("q431_stream_write_table",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val src = Scratch.dir("q431src", dir)
        val cp = Scratch.dir("q431cp", dir)
        val dst = s"$base/q431d"
        Seq(src, cp, dst).foreach(TxLog.drop)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        (0 to 3).foreach(m =>
          TxLog.append(orders.filter(col("o_orderkey") % 4 === m), src))
        val q = s.readStream.format("txlog")
          .option("maxVersionsPerTrigger", "2").load(src)
          .writeStream
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable("graft_lake.q431d")
        q.awaitTermination()
        // v0 = toTable's CREATE (schema-only), then one version per epoch
        val nEpochs = TxLog.currentVersion(dst).toLong
        s.sql("SELECT * FROM graft_lake.q431d")
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .select(lit(nEpochs).as("n_epochs"), col("n_rows"),
            col("revenue"))
      },
      Some("""SELECT CAST(2 AS BIGINT) AS n_epochs,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders""".stripMargin)),

    // q432 — RESTORE / SHALLOW CLONE / path maintenance AS SQL: the
    // remaining operator verbs a lakehouse admin types, through the
    // injected parser. A bad deploy (destructive INSERT OVERWRITE
    // shape) is undone by `RESTORE TABLE ... TO VERSION AS OF` (zero
    // data IO, the bad version stays time-travelable); the restored
    // table is branched zero-copy by `CREATE TABLE ... SHALLOW CLONE`
    // and the clone is mutated by SQL DELETE — proving branch
    // independence under the hash (source must NOT lose the deleted
    // rows); `OPTIMIZE txlog.`/path`` exercises maintenance on a BARE
    // path (no catalog) and must change layout only. The version
    // counters pin each verb to exactly one commit.
    QuerySpec("q432_txlog_restore_clone_sql",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q432m"
        val c = s"$base/q432c"
        Seq(t, c).foreach(TxLog.drop)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        TxLog.create(orders.filter(col("o_orderkey") % 2 === 0), t) // v0
        TxLog.append(orders.filter(col("o_orderkey") % 2 =!= 0), t) // v1
        TxLog.replace(orders.filter(col("o_totalprice") > 300000), t) // v2: bad
        s.sql("RESTORE TABLE graft_lake.q432m TO VERSION AS OF 1")  // v3
        s.sql("CREATE TABLE graft_lake.q432c SHALLOW CLONE graft_lake.q432m")
        s.sql("DELETE FROM graft_lake.q432c WHERE o_orderkey % 3 = 0")
        s.sql(s"OPTIMIZE txlog.`$t`")                               // v4
        val vs = TxLog.currentVersion(t).toLong
        val vc = TxLog.currentVersion(c).toLong
        Seq(("source", s"$base/q432m", vs), ("clone", s"$base/q432c", vc))
          .map { case (probe, d, v) =>
            TxLog.read(s, d)
              .agg(count(lit(1)).as("n_rows"),
                Stable.dsum(col("o_totalprice")).as("revenue"))
              .select(lit(probe).as("probe"), lit(v).as("n_versions"),
                col("n_rows"), col("revenue"))
          }.reduce(_ unionByName _).orderBy("probe")
      },
      Some("""SELECT 'clone' AS probe, CAST(1 AS BIGINT) AS n_versions,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders WHERE o_orderkey % 3 <> 0
             |UNION ALL
             |SELECT 'source', CAST(4 AS BIGINT), CAST(count(*) AS BIGINT),
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |FROM orders
             |ORDER BY probe""".stripMargin)),

    // q433 — TBLPROPERTIES + CLONE METADATA as SQL: properties persist
    // as checkpoint-carried log lines (previously CREATE TABLE silently
    // dropped them), SHOW TBLPROPERTIES reads them back, ALTER
    // SET TBLPROPERTIES is one metadata commit, and SHALLOW CLONE
    // carries schema + properties so the branch is self-describing.
    // The hash pins the pivoted properties of source and clone after
    // an update (the clone snapshots the POST-update value), plus each
    // table's content — governance metadata and data under one row.
    QuerySpec("q433_txlog_properties_sql",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q433m"
        val c = s"$base/q433c"
        Seq(t, c).foreach(TxLog.drop)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        s.sql("""CREATE TABLE graft_lake.q433m
                 (o_orderkey BIGINT, o_totalprice DOUBLE) USING txlog
                 TBLPROPERTIES ('tier' = 'bronze', 'pii' = 'false')""")
        TxLog.append(Tables.load(s, dir, "orders")
          .select(col("o_orderkey").cast("long"),
            col("o_totalprice").cast("double")), t)
        s.sql("ALTER TABLE graft_lake.q433m " +
          "SET TBLPROPERTIES ('tier' = 'silver')")
        s.sql("CREATE TABLE graft_lake.q433c SHALLOW CLONE graft_lake.q433m")
        s.sql("DELETE FROM graft_lake.q433c WHERE o_orderkey % 2 = 0")
        import s.implicits._
        Seq(("clone", c), ("main", t)).map { case (probe, d) =>
          val props = TxLog.tableProperties(d)
          val agg = TxLog.read(s, d)
            .agg(count(lit(1)), Stable.dsum(col("o_totalprice"))).head()
          (probe, props.getOrElse("tier", "?"), props.getOrElse("pii", "?"),
            agg.getLong(0), agg.getDouble(1))
        }.toDF("probe", "tier", "pii", "n_rows", "revenue")
          .orderBy("probe")
      },
      Some("""SELECT 'clone' AS probe, 'silver' AS tier, 'false' AS pii,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders WHERE o_orderkey % 2 <> 0
             |UNION ALL
             |SELECT 'main', 'silver', 'false', CAST(count(*) AS BIGINT),
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |FROM orders
             |ORDER BY probe""".stripMargin)),

    // q434 — LAKEHOUSE TRAINING-DATA PIPELINE capstone: the
    // documents corpus flows through every round-12 surface in one
    // story — (1) staged into a txlog source table in two commits;
    // (2) STREAMED BY NAME into a catalog table via writeStream.toTable
    // (the DSv2 StreamingWrite — exactly-once epochs); (3) CURATED by
    // SQL DML: exact near-dup removal keeps the lowest doc_id per
    // (source, n_chars, 16-char prefix) fingerprint via an uncorrelated
    // IN-subquery DELETE, then a quality DELETE drops short docs;
    // (4) AUDITED from pure SQL via table_changes over the two
    // ingest epochs (v1..v2 — a pure-insert range, layout-independent
    // by construction, unlike the COW DELETEs whose delete+reinsert
    // pairs depend on file boundaries) — the ingested row count enters
    // the hash next to the surviving corpus stats, so a lost epoch and
    // a half-applied DELETE flip different columns.
    QuerySpec("q434_lakehouse_docs_pipeline",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val src = Scratch.dir("q434src", dir)
        val cp = Scratch.dir("q434cp", dir)
        val dst = s"$base/q434docs"
        Seq(src, cp, dst).foreach(TxLog.drop)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"),
            col("n_chars"), col("text"))
        TxLog.append(docs.filter(col("doc_id") % 2 === 0), src)
        TxLog.append(docs.filter(col("doc_id") % 2 =!= 0), src)
        val q = s.readStream.format("txlog")
          .option("maxVersionsPerTrigger", "1").load(src)
          .writeStream.option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable("graft_lake.q434docs")
        q.awaitTermination()
        // near-dup fingerprint: keep the LOWEST doc_id per
        // (source, n_chars, 16-char prefix) group — the non-survivors
        // resolve through an uncorrelated subquery over the PRE-DELETE
        // snapshot (standard SQL DELETE semantics, mirrored in DuckDB)
        s.sql("""DELETE FROM graft_lake.q434docs WHERE doc_id IN (
                   SELECT doc_id FROM (
                     SELECT doc_id, min(doc_id) OVER (PARTITION BY
                       source, n_chars, substring(text, 1, 16)) AS keep
                     FROM graft_lake.q434docs) WHERE doc_id <> keep)""")
        s.sql("DELETE FROM graft_lake.q434docs WHERE n_chars < 40")
        // audit the INGEST epochs (v1..v2): a pure-insert range whose
        // row count is exactly the staged corpus, from pure SQL
        val ingested = s.sql(
          "SELECT count(*) FROM table_changes('graft_lake.q434docs', 1, 2)")
          .head().getLong(0)
        s.sql("SELECT * FROM graft_lake.q434docs")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("total_chars"))
          .select(col("lang"), lit(ingested).as("ingested"),
            col("n_docs"), col("total_chars"))
          .orderBy("lang")
      },
      Some("""WITH fp AS (
             |  SELECT doc_id, source, lang, n_chars, text,
             |    min(doc_id) OVER (PARTITION BY source, n_chars,
             |      substring(text, 1, 16)) AS keep
             |  FROM documents),
             |survivors AS (
             |  SELECT * FROM fp WHERE doc_id = keep AND n_chars >= 40)
             |SELECT lang,
             |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS ingested,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
             |FROM survivors GROUP BY lang ORDER BY lang""".stripMargin)),

    // q435 — DECLARATIVE `PARTITIONED BY` (VERDICT r12 #1): partition
    // layout as TABLE METADATA, not a per-write convention. One table,
    // three writer generations — SQL INSERT INTO, the Scala append, and
    // writeStream.toTable — all land partition-pure files with `p:`
    // markers because the layout is persisted in the log
    // (TxLog.PartitionColsProp, carried through checkpoints/clones like
    // any property); a partition-predicate SELECT through the catalog
    // then prunes files from log metadata alone BEFORE zone maps — the
    // coarse scan cut that makes a WHERE-partition query O(matching
    // partitions) at 100 TB. The hash pins: the pruning counter
    // (kept < total), the every-file-marked invariant, the pruned
    // partition's exact aggregate, and the whole-table aggregate.
    QuerySpec("q435_declarative_partitioning",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q435pt"
        val src = Scratch.dir("q435src", dir)
        val cp = Scratch.dir("q435cp", dir)
        Seq(t, src, cp).foreach(TxLog.drop)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        s.sql("""CREATE TABLE graft_lake.q435pt (
                   l_orderkey BIGINT, l_returnflag STRING,
                   l_extendedprice DOUBLE)
                 USING txlog PARTITIONED BY (l_returnflag)""")
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"),
            col("l_extendedprice").cast("double"))
        // writer 1: SQL INSERT INTO
        li.filter(col("l_orderkey") % 3 === 0)
          .createOrReplaceTempView("q435_in")
        s.sql("INSERT INTO graft_lake.q435pt SELECT * FROM q435_in")
        // writer 2: the Scala append — inherits the declared layout
        TxLog.append(li.filter(col("l_orderkey") % 3 === 1), t)
        // writer 3: streamed by name — executor tasks split their rows
        // into partition-pure files, the epoch commit records markers
        TxLog.create(li.filter(col("l_orderkey") % 3 === 2), src)
        val q = s.readStream.format("txlog").load(src)
          .writeStream.option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable("graft_lake.q435pt")
        q.awaitTermination()
        val allMarked = TxLog.partitionValues(t).values
          .forall(_.get("l_returnflag").nonEmpty)
        // the partition-predicate scan: collect the aggregate FIRST
        // (execution populates the pruning counters), then read them
        val arow = s.sql(
          "SELECT count(*) FROM graft_lake.q435pt WHERE l_returnflag = 'A'")
          .head()
        val airRows = arow.getLong(0)
        val pruned = graft.sources.TxLogSourceIO.lastKept.get() <
          graft.sources.TxLogSourceIO.lastTotal.get()
        s.sql("SELECT * FROM graft_lake.q435pt")
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("l_extendedprice")).as("revenue"))
          .select(lit(pruned).as("pruned"), lit(allMarked).as("all_marked"),
            lit(airRows).as("air_rows"), col("n_rows"), col("revenue"))
      },
      Some("""SELECT TRUE AS pruned, TRUE AS all_marked,
             |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
             |   WHERE l_returnflag = 'A') AS air_rows,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS revenue
             |FROM lineitem""".stripMargin)),

    // q436 — STREAMING CDF BY NAME (VERDICT r12 #2): `readStream
    // .option("readChangeFeed", "true").table("lake.t")` — the last
    // asymmetric corner of the streaming matrix. The resolution rule
    // rewrites the catalog relation onto the DSv1 CDF source (one
    // hardened implementation for both addressing modes), so deletes
    // flow as first-class rows with `_change_type`/`_commit_version`.
    // The probe streams a create+append+DV-delete history into a memory
    // sink grouped per (type, version) — q280's semantics through the
    // by-name surface, under the oracle hash.
    QuerySpec("q436_stream_cdf_by_name",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q436m"
        val cp = Scratch.dir("q436cp", dir)
        Seq(t, cp).foreach(TxLog.drop)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        TxLog.create(orders.filter(col("o_orderkey") % 2 === 0), t) // v0
        TxLog.append(orders.filter(col("o_orderkey") % 2 =!= 0), t) // v1
        TxLog.deleteWhereDV(s, t, col("o_orderkey") % 5 === 0)      // v2
        val sink = s"q436_sink_${java.util.UUID.randomUUID().toString.take(8)}"
        val q = s.readStream
          .option("readChangeFeed", "true")
          .option("startingVersion", "1") // skip the create
          .table("graft_lake.q436m")
          .writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.table(sink)
          .groupBy(col("_change_type").as("change_type"),
            col("_commit_version").as("commit_version"))
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .orderBy("commit_version", "change_type")
      },
      Some("""SELECT * FROM (
             |  SELECT 'insert' AS change_type, CAST(1 AS BIGINT) AS commit_version,
             |    CAST(count(*) AS BIGINT) AS n_rows,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |  FROM orders WHERE o_orderkey % 2 <> 0
             |  UNION ALL
             |  SELECT 'delete', 2, CAST(count(*) AS BIGINT),
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |  FROM orders WHERE o_orderkey % 5 = 0
             |) ORDER BY commit_version, change_type""".stripMargin)),

    // q437 — ATOMIC `CREATE OR REPLACE TABLE ... AS SELECT` (VERDICT
    // r12 #3, the StagingTableCatalog protocol): the new definition —
    // data, exact schema, properties — swaps in as ONE commit over an
    // existing table, the prior content stays TIME-TRAVELABLE (unlike
    // drop+recreate), and a plain CTAS lands atomically at version 0.
    // The hash pins the replaced content, the still-readable
    // pre-replace snapshot, and the one-commit version counter.
    QuerySpec("q437_create_or_replace",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q437r"
        TxLog.drop(t)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        Tables.load(s, dir, "orders").createOrReplaceTempView("q437_o")
        // atomic CTAS: schema + rows at version 0
        s.sql("""CREATE TABLE graft_lake.q437r USING txlog AS
                 SELECT o_orderkey, o_totalprice FROM q437_o
                 WHERE o_orderkey % 2 = 0""")
        val vCtas = TxLog.currentVersion(t).toLong
        // atomic REPLACE: different schema, different rows, ONE commit
        s.sql("""CREATE OR REPLACE TABLE graft_lake.q437r USING txlog AS
                 SELECT o_orderkey AS k, o_totalprice * 2.0 AS doubled,
                   o_orderpriority AS pri
                 FROM q437_o WHERE o_orderkey % 3 = 0""")
        val vReplace = TxLog.currentVersion(t).toLong
        // the pre-replace content still time-travels
        val oldRows = TxLog.read(s, t, Some(vCtas.toInt)).count()
        s.sql("SELECT * FROM graft_lake.q437r")
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("doubled")).as("doubled_total"))
          .select(lit(vCtas).as("v_ctas"), lit(vReplace).as("v_replace"),
            lit(oldRows).as("old_rows_travelable"), col("n_rows"),
            col("doubled_total"))
      },
      Some("""SELECT CAST(0 AS BIGINT) AS v_ctas,
             |  CAST(1 AS BIGINT) AS v_replace,
             |  (SELECT CAST(count(*) AS BIGINT) FROM orders
             |   WHERE o_orderkey % 2 = 0) AS old_rows_travelable,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice * 2.0 AS DECIMAL(18,2)))
             |    AS DOUBLE) AS doubled_total
             |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin)),

    // q438 — CORRELATED SUBQUERIES IN DELETE (VERDICT r12 #4): `DELETE
    // ... WHERE EXISTS (SELECT ... WHERE s.k = t.k AND ...)` — the
    // condition evaluates verbatim as a Filter over the live table
    // remapped onto the statement's attribute ids, Spark decorrelates
    // it into the semi-join it really is, and the TRUE rows' (file,
    // position) pairs commit as deletion vectors: an O(matches) commit
    // with no file rewrite, the shape a 100 TB GDPR-style
    // delete-by-lookup needs. NOT EXISTS exercises the anti-join form.
    QuerySpec("q438_dml_correlated_delete",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q438m"
        TxLog.drop(t)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        val orders = Tables.load(s, dir, "orders")
        TxLog.create(orders
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")), t)
        Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
          .createOrReplaceTempView("q438_cust")
        // correlated EXISTS with inner AND outer predicates
        s.sql("""DELETE FROM graft_lake.q438m t WHERE EXISTS (
                   SELECT 1 FROM q438_cust c
                   WHERE c.c_custkey = t.o_custkey AND c.c_acctbal < 0
                     AND t.o_totalprice < 150000)""")
        // correlated NOT EXISTS against a segment-filtered reference
        // (the anti-join shape): orders whose customer is NOT outside
        // BUILDING — i.e. drop the BUILDING segment's orders
        s.sql("""DELETE FROM graft_lake.q438m t WHERE NOT EXISTS (
                   SELECT 1 FROM q438_cust c
                   WHERE c.c_custkey = t.o_custkey
                     AND c.c_mktsegment <> 'BUILDING')""")
        val versions = TxLog.currentVersion(t).toLong
        val dvDelete = TxLog.hasDeletionVectors(t)
        s.sql("SELECT * FROM graft_lake.q438m")
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .select(lit(versions).as("n_versions"),
            lit(dvDelete).as("merge_on_read"), col("n_rows"),
            col("revenue"))
      },
      Some("""WITH kept AS (
             |  SELECT o.o_orderkey, o.o_totalprice FROM orders o
             |  WHERE NOT EXISTS (
             |      SELECT 1 FROM customer c
             |      WHERE c.c_custkey = o.o_custkey AND c.c_acctbal < 0
             |        AND o.o_totalprice < 150000)
             |    AND EXISTS (
             |      SELECT 1 FROM customer c
             |      WHERE c.c_custkey = o.o_custkey
             |        AND c.c_mktsegment <> 'BUILDING'))
             |SELECT CAST(2 AS BIGINT) AS n_versions,
             |  TRUE AS merge_on_read,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS revenue
             |FROM kept""".stripMargin)),

    // q439 — MERGE WITH SCHEMA EVOLUTION (VERDICT r12 #5): a wider
    // source auto-evolves the target — Spark's
    // ResolveMergeIntoSchemaEvolution computes the widen-only
    // TableChange and routes it through the catalog's alterTable (the
    // q427 metadata commit), then the merge rewrite null-backfills the
    // new column for files that predate it. The hash pins the evolved
    // column's population split, the version counter (1 metadata + 1
    // merge data commit on top of the create), and the merge arithmetic.
    QuerySpec("q439_merge_schema_evolution",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q439m"
        TxLog.drop(t)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        val orders = Tables.load(s, dir, "orders")
        TxLog.create(orders.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice")), t) // v0
        orders.filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey").as("k"),
            (col("o_totalprice") + 500.0).as("p"),
            (col("o_orderkey") % 7).cast("double").as("score"))
          .createOrReplaceTempView("q439_src")
        s.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft_lake.q439m t
                 USING q439_src s ON t.o_orderkey = s.k
                 WHEN MATCHED THEN
                   UPDATE SET o_totalprice = s.p, score = s.score
                 WHEN NOT MATCHED THEN
                   INSERT (o_orderkey, o_totalprice, score)
                   VALUES (s.k, s.p, s.score)""")
        val versions = TxLog.currentVersion(t).toLong // v1 evolve + v2 merge
        s.sql("SELECT * FROM graft_lake.q439m")
          .groupBy(when(col("score").isNull, "backfilled")
            .otherwise("scored").as("cls"))
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("o_totalprice")).as("revenue"),
            sum(coalesce(col("score"), lit(0.0))).as("score_total"))
          .select(col("cls"), lit(versions).as("n_versions"),
            col("n_rows"), col("revenue"), col("score_total"))
          .orderBy("cls")
      },
      Some("""WITH merged AS (
             |  SELECT o_orderkey,
             |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 500.0
             |      ELSE o_totalprice END AS p,
             |    CASE WHEN o_orderkey % 3 = 0
             |      THEN CAST(o_orderkey % 7 AS DOUBLE) END AS score
             |  FROM orders WHERE o_orderkey % 2 = 0
             |  UNION ALL
             |  SELECT o_orderkey, o_totalprice + 500.0,
             |    CAST(o_orderkey % 7 AS DOUBLE)
             |  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 <> 0)
             |SELECT CASE WHEN score IS NULL THEN 'backfilled'
             |    ELSE 'scored' END AS cls,
             |  CAST(2 AS BIGINT) AS n_versions,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             |  CAST(SUM(COALESCE(score, 0.0)) AS DOUBLE) AS score_total
             |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q440 — `DESCRIBE DETAIL` (VERDICT r12 #8, Delta's verb): the
    // operator's one-row table health check — format, current version,
    // declared partition columns, outstanding deletion vectors,
    // constraint/property counts — from ONE log fold, zero data IO.
    // The probe builds a table exercising every metadata dimension
    // (partitioned create + TBLPROPERTIES + CHECK constraint + a
    // merge-on-read delete), then hashes the stable DETAIL columns next
    // to the surviving content (file counts and bytes are layout
    // facts — pinned as non-zero booleans, not values).
    QuerySpec("q440_describe_detail",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q440d"
        TxLog.drop(t)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        s.sql("""CREATE TABLE graft_lake.q440d (
                   o_orderkey BIGINT, flag STRING, o_totalprice DOUBLE)
                 USING txlog PARTITIONED BY (flag)
                 TBLPROPERTIES ('team' = 'data-eng', 'pii' = 'false')""")
        TxLog.append(Tables.load(s, dir, "orders")
          .select(col("o_orderkey"),
            (col("o_orderkey") % 3).cast("string").as("flag"),
            col("o_totalprice").cast("double")), t)            // v1
        TxLog.addConstraint(s, t, "pos", "o_totalprice >= 0")  // v2
        TxLog.deleteWhereDV(s, t, col("o_orderkey") % 11 === 0) // v3
        val detail = s.sql("DESCRIBE DETAIL graft_lake.q440d")
          .select(col("format"), col("version"), col("partition_columns"),
            col("has_deletion_vectors"),
            col("num_constraints"), col("num_properties"),
            (col("num_files") > 0).as("has_files"),
            (col("size_bytes") > 0).as("has_bytes"))
        detail.crossJoin(
          s.sql("SELECT * FROM graft_lake.q440d")
            .agg(count(lit(1)).as("n_rows"),
              Stable.dsum(col("o_totalprice")).as("revenue")))
      },
      Some("""SELECT 'txlog' AS format, CAST(3 AS BIGINT) AS version,
             |  'flag' AS partition_columns,
             |  TRUE AS has_deletion_vectors,
             |  CAST(1 AS BIGINT) AS num_constraints,
             |  CAST(2 AS BIGINT) AS num_properties,
             |  TRUE AS has_files, TRUE AS has_bytes,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS revenue
             |FROM orders WHERE o_orderkey % 11 <> 0""".stripMargin)),

    // q441 — PARTITION-ALIGNED DML (the Delta fast paths): on a
    // declaratively partitioned table, (1) `DELETE WHERE part = v` is
    // METADATA-ONLY — the commit carries remove lines, zero data read,
    // zero rewrite (at 100 TB, dropping a day is O(that day's file
    // list)); (2) a partition-predicate UPDATE rewrites ONLY that
    // partition's files (the affected-file probe scans candidates the
    // log metadata cannot exclude, not the table); (3) OPTIMIZE
    // compacts WITHIN partitions, so maintenance never demotes files
    // to unprunable. All three proofs pin as booleans read from the
    // log itself, hashed next to the surviving content.
    QuerySpec("q441_partition_aligned_dml",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q441p"
        TxLog.drop(t)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        s.sql("""CREATE TABLE graft_lake.q441p (
                   l_orderkey BIGINT, l_returnflag STRING,
                   l_extendedprice DOUBLE)
                 USING txlog PARTITIONED BY (l_returnflag)""")
        TxLog.append(Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"),
            col("l_extendedprice").cast("double")), t) // v1
        // 1. partition-aligned DELETE: provably-covered files drop
        // from the log with no read at all
        s.sql("DELETE FROM graft_lake.q441p WHERE l_returnflag = 'R'")
        val deleteMetadataOnly = TxLog.removesOnly(t, TxLog.currentVersion(t))
        // 2. partition-predicate UPDATE: victims confined to 'A' files
        val pvBefore = TxLog.partitionValues(t)
        s.sql("""UPDATE graft_lake.q441p SET l_extendedprice = 0.0
                 WHERE l_returnflag = 'A'""")
        val updScoped = {
          val removed = TxLog.changes(t, TxLog.currentVersion(t))._2
          removed.nonEmpty && removed.forall(f =>
            pvBefore.getOrElse(f, Map.empty)
              .get("l_returnflag").contains("A"))
        }
        // 3. OPTIMIZE compacts within partitions — markers survive
        s.sql("OPTIMIZE graft_lake.q441p")
        val pvAfter = TxLog.partitionValues(t)
        val optimizeMarked = TxLog.snapshot(t).forall(f =>
          pvAfter.getOrElse(f, Map.empty).contains("l_returnflag"))
        // the pruned scan still serves the surviving content exactly
        s.sql("SELECT * FROM graft_lake.q441p")
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("l_extendedprice")).as("revenue"))
          .select(lit(deleteMetadataOnly).as("delete_metadata_only"),
            lit(updScoped).as("update_scoped"),
            lit(optimizeMarked).as("optimize_marked"),
            col("n_rows"), col("revenue"))
      },
      Some("""SELECT TRUE AS delete_metadata_only, TRUE AS update_scoped,
             |  TRUE AS optimize_marked,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(0 AS DECIMAL(18,2))
             |    ELSE CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE)
             |    AS revenue
             |FROM lineitem WHERE l_returnflag <> 'R'""".stripMargin)),

    // q442 — `INSERT OVERWRITE` both ways (Delta's replaceWhere +
    // dynamic partition overwrite, through Spark's own V2 overwrite
    // plans): (1) a STATIC `PARTITION (l_returnflag = 'N')` spec
    // arrives as OverwriteByExpression → TxLog.replaceWhere — one
    // atomic commit whose delete leg is partition-aligned (provably-
    // covered files drop with zero read) and whose scope CONTRACT
    // refuses any batch row outside the predicate (the idempotent
    // partition-reload guarantee: a retry can never leak rows into
    // partitions it does not own); (2) `partitionOverwriteMode=
    // dynamic` with no spec arrives as OverwritePartitionsDynamic →
    // TxLog.replaceDynamicPartitions — the victim set is staged
    // markers ∩ recorded markers, pure log metadata. The hash pins
    // both commits' victim scoping (read from the log itself) and the
    // exact surviving content of all three partitions — on a 100 TB
    // date-partitioned table this is THE daily-reload verb: replace
    // one day by reading nothing but that day's file list.
    QuerySpec("q442_insert_overwrite",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q442o"
        TxLog.drop(t)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        s.sql("""CREATE TABLE graft_lake.q442o (
                   l_orderkey BIGINT, l_returnflag STRING,
                   l_extendedprice DOUBLE)
                 USING txlog PARTITIONED BY (l_returnflag)""")
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"),
            col("l_extendedprice").cast("double"))
        TxLog.append(li, t)
        li.createOrReplaceTempView("q442_src")
        def removedOnly(v: Int, part: String): Boolean = {
          val pv = TxLog.partitionValues(t, Some(v - 1))
          val removed = TxLog.changes(t, v)._2
          removed.nonEmpty && removed.forall(f =>
            pv.getOrElse(f, Map.empty).get("l_returnflag").contains(part))
        }
        // 1. static scope: replace partition N with negated prices
        // (negation is IEEE-exact — no cross-engine rounding hazard)
        s.sql("""INSERT OVERWRITE graft_lake.q442o
                   PARTITION (l_returnflag = 'N')
                 SELECT l_orderkey, -l_extendedprice FROM q442_src
                 WHERE l_returnflag = 'N'""")
        val staticScoped = removedOnly(TxLog.currentVersion(t), "N")
        // 2. dynamic mode: the batch holds only partition A — exactly
        // A's files become victims, N and R stay untouched
        val prevMode = s.conf.get(
          "spark.sql.sources.partitionOverwriteMode", "static")
        val dynScoped = try {
          s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          s.sql("""INSERT OVERWRITE graft_lake.q442o
                   SELECT l_orderkey, l_returnflag,
                     CAST(l_orderkey AS DOUBLE) FROM q442_src
                   WHERE l_returnflag = 'A'""")
          removedOnly(TxLog.currentVersion(t), "A")
        } finally {
          s.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
        }
        s.sql("SELECT * FROM graft_lake.q442o")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("l_extendedprice")).as("revenue"))
          .select(lit(staticScoped).as("static_scoped"),
            lit(dynScoped).as("dynamic_scoped"),
            col("l_returnflag"), col("n_rows"), col("revenue"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT TRUE AS static_scoped, TRUE AS dynamic_scoped,
             |  l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CASE
             |    WHEN l_returnflag = 'N'
             |      THEN -CAST(l_extendedprice AS DECIMAL(18,2))
             |    WHEN l_returnflag = 'A'
             |      THEN CAST(l_orderkey AS DECIMAL(18,2))
             |    ELSE CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE)
             |    AS revenue
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // q443 — DECLARATIVE DATA-SKIPPING COLUMNS (Delta's
    // `delta.dataSkippingStatsColumns`): `TBLPROPERTIES
    // ('graft.stats.columns' = 'o_orderkey')` makes zone-map stats
    // TABLE metadata every writer inherits — the CTAS batch, each SQL
    // INSERT, and the survivor files a DELETE rewrites all record
    // per-file min/max markers with no caller opting in, and catalog
    // scans prune on them. The declarative twin of PARTITIONED BY
    // (q435): partitioning gives the coarse cut, stats columns give
    // the fine cut WITHIN whatever layout the data arrives in — at
    // 100 TB a writer that forgets stats silently grows the unprunable
    // set forever, so the table declares them once. The hash pins the
    // every-file-marked invariant (read from the log), the pruning
    // counter on a selective key-range scan, and the exact surviving
    // content after the DELETE exercised the rewrite path.
    QuerySpec("q443_declarative_stats",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q443s"
        TxLog.drop(t)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice").cast("double"))
        // deterministic split point both engines compute identically
        val mid = orders.agg(max(col("o_orderkey"))).head().getLong(0) / 2
        orders.filter(col("o_orderkey") <= mid)
          .createOrReplaceTempView("q443_lo")
        orders.filter(col("o_orderkey") > mid)
          .createOrReplaceTempView("q443_hi")
        // CTAS: stats columns take effect on the very first batch
        s.sql("""CREATE TABLE graft_lake.q443s
                 USING txlog
                 TBLPROPERTIES ('graft.stats.columns' = 'o_orderkey')
                 AS SELECT * FROM q443_lo""")
        // a later INSERT inherits the declaration — disjoint key range,
        // so its files are provably outside the probe below
        s.sql("INSERT INTO graft_lake.q443s SELECT * FROM q443_hi")
        // every live file carries o_orderkey bounds, no caller asked
        val zm = TxLog.fileStatsAll(t)
        val allMarked = TxLog.snapshot(t).forall(f =>
          zm.getOrElse(f, Map.empty).contains("o_orderkey"))
        // selective range scan: execution populates the counters
        val loRows = s.sql(
          s"SELECT count(*) FROM graft_lake.q443s WHERE o_orderkey <= $mid")
          .head().getLong(0)
        val pruned = graft.sources.TxLogSourceIO.lastKept.get() <
          graft.sources.TxLogSourceIO.lastTotal.get()
        // the DELETE's survivor rewrite must keep the table prunable
        s.sql("DELETE FROM graft_lake.q443s WHERE o_orderkey % 10 = 7")
        val zm2 = TxLog.fileStatsAll(t)
        val rewriteMarked = TxLog.snapshot(t).forall(f =>
          zm2.getOrElse(f, Map.empty).contains("o_orderkey"))
        s.sql("SELECT * FROM graft_lake.q443s")
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .select(lit(allMarked).as("all_marked"),
            lit(pruned).as("pruned"),
            lit(rewriteMarked).as("rewrite_marked"),
            lit(loRows).as("lo_rows"), col("n_rows"), col("revenue"))
      },
      Some("""SELECT TRUE AS all_marked, TRUE AS pruned,
             |  TRUE AS rewrite_marked,
             |  (SELECT CAST(count(*) AS BIGINT) FROM orders
             |   WHERE o_orderkey <=
             |     (SELECT CAST(floor(max(o_orderkey) / 2.0) AS BIGINT)
             |      FROM orders)) AS lo_rows,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS revenue
             |FROM orders WHERE o_orderkey % 10 <> 7""".stripMargin)),

    // q444 — `CONVERT TO TXLOG` (Delta's `CONVERT TO DELTA`): in-place
    // adoption of an existing plain-parquet directory — version 0
    // REFERENCES the directory's files verbatim (the hash pins file
    // IDENTITY: post-convert snapshot == the original basenames), the
    // STATS clause computes data-skipping bounds in the same pass, and
    // from that commit on the directory is a full table: path DML
    // (copy-on-write DELETE), time travel back to the pre-DML state,
    // maintenance verbs. At 100 TB this is THE migration story — a
    // petabyte parquet lake becomes transactional without moving a
    // byte, which no read-rewrite import can offer.
    QuerySpec("q444_convert_to_txlog",
      (s, dir) => {
        import graft.core.TxLog
        val p = Scratch.dir("q444plain", dir)
        TxLog.drop(p)
        Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice").cast("double"))
          .repartition(3)
          .write.mode("overwrite").parquet(p)
        val original = new java.io.File(p).listFiles()
          .filter(f => f.getName.endsWith(".parquet")).map(_.getName).toSet
        s.sql(s"CONVERT TO TXLOG parquet.`$p` STATS (o_orderkey)")
        val inPlace = TxLog.snapshot(p).toSet == original
        val zm = TxLog.fileStatsAll(p)
        val statsMarked = TxLog.snapshot(p).forall(f =>
          zm.getOrElse(f, Map.empty).contains("o_orderkey"))
        val origRows = TxLog.read(s, p).count()
        // the converted directory is a first-class DML target
        s.sql(s"DELETE FROM txlog.`$p` WHERE o_orderkey % 7 = 0")
        // and the PRE-DML state stays time-travelable (version 0)
        val v0Rows = TxLog.read(s, p, Some(0)).count()
        s.sql(s"SELECT * FROM txlog.`$p`")
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .select(lit(inPlace).as("in_place"),
            lit(statsMarked).as("stats_marked"),
            lit(v0Rows == origRows).as("time_travel_intact"),
            col("n_rows"), col("revenue"))
      },
      Some("""SELECT TRUE AS in_place, TRUE AS stats_marked,
             |  TRUE AS time_travel_intact,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS revenue
             |FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin)),

    // q445 — `SHOW PARTITIONS` through Spark's own V2 command surface:
    // TxLogTable implements SupportsPartitionManagement (read side), so
    // ShowPartitionsExec lists the DISTINCT recorded partition tuples
    // from log metadata alone — zero data IO at any table size (the
    // operational companion to q435's pruning: an operator asks "what
    // partitions exist?" before asking "how big is each?"). The hash
    // pins exactness BOTH ways (SHOW's row set == the distinct values
    // actually in the data, proven by inner-join + count equality), the
    // partial-spec form (`PARTITION (l_returnflag = 'A')` → exactly one
    // row), and each partition's row count.
    QuerySpec("q445_show_partitions",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q445p"
        TxLog.drop(t)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        s.sql("""CREATE TABLE graft_lake.q445p (
                   l_orderkey BIGINT, l_returnflag STRING)
                 USING txlog PARTITIONED BY (l_returnflag)""")
        TxLog.append(Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag")), t)
        val shown = s.sql("SHOW PARTITIONS graft_lake.q445p")
        val specOk = s.sql("""SHOW PARTITIONS graft_lake.q445p
                              PARTITION (l_returnflag = 'A')""")
          .collect().map(_.getString(0)).toSeq == Seq("l_returnflag=A")
        val counts = s.sql("SELECT * FROM graft_lake.q445p")
          .groupBy("l_returnflag").agg(count(lit(1)).as("n_rows"))
          .select(concat(lit("l_returnflag="), col("l_returnflag"))
            .as("partition"), col("n_rows"))
        val matched = shown.join(counts, Seq("partition"), "inner")
        val exact = shown.count() == counts.count() &&
          matched.count() == counts.count()
        matched.select(lit(exact).as("exact"),
            lit(specOk).as("spec_filtered"),
            col("partition"), col("n_rows"))
          .orderBy("partition")
      },
      Some("""SELECT TRUE AS exact, TRUE AS spec_filtered,
             |  'l_returnflag=' || l_returnflag AS partition,
             |  CAST(count(*) AS BIGINT) AS n_rows
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY partition""".stripMargin)),

    // q446 — CORRELATED-subquery UPDATE (the half VERDICT r12 #4 left
    // refused): `UPDATE ... WHERE EXISTS (SELECT ... WHERE outer.k =
    // inner.k)` routes to the join executor — the condition evaluates
    // once over the (file, position)-keyed table, Spark decorrelates
    // it into the semi-join it really is, and ONLY files holding a
    // match rewrite copy-on-write. Proven by file IDENTITY: a sentinel
    // file whose rows cannot match (negative keys) survives the UPDATE
    // as the very same file, pinned in the hash next to the updated
    // content. Delta ships the same shape via its UpdateCommand
    // find-then-rewrite pass.
    QuerySpec("q446_correlated_update",
      (s, dir) => {
        import graft.core.TxLog
        import s.implicits._
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q446c"
        TxLog.drop(t)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        s.sql("""CREATE TABLE graft_lake.q446c (
                   c_custkey BIGINT, c_acctbal DOUBLE) USING txlog""")
        TxLog.append(Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_acctbal").cast("double")), t)
        val afterMain = TxLog.snapshot(t).toSet
        // the sentinel file: negative keys no order can reference
        TxLog.append((-5L to -1L).map(k => (k, 10.0))
          .toDF("c_custkey", "c_acctbal"), t)
        val sentinel = TxLog.snapshot(t).toSet -- afterMain
        Tables.load(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderstatus"))
          .createOrReplaceTempView("q446_orders")
        s.sql("""UPDATE graft_lake.q446c AS c SET c_acctbal = 0.0
                 WHERE EXISTS (SELECT 1 FROM q446_orders o
                   WHERE o.o_custkey = c.c_custkey
                     AND o.o_orderstatus = 'O')""")
        val untouched = sentinel.subsetOf(TxLog.snapshot(t).toSet)
        s.sql("SELECT * FROM graft_lake.q446c")
          .agg(count(lit(1)).as("n_rows"),
            count(when(col("c_acctbal") === 0.0, 1)).as("n_zero"),
            Stable.dsum(col("c_acctbal")).as("total_bal"))
          .select(lit(untouched).as("untouched_preserved"),
            col("n_rows"), col("n_zero"), col("total_bal"))
      },
      Some("""WITH base AS (
             |  SELECT CASE WHEN c_custkey IN
             |      (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
             |    THEN CAST(0 AS DECIMAL(18,2))
             |    ELSE CAST(c_acctbal AS DECIMAL(18,2)) END AS bal
             |  FROM customer
             |  UNION ALL
             |  SELECT CAST(10 AS DECIMAL(18,2)) AS bal
             |  FROM range(5)
             |)
             |SELECT TRUE AS untouched_preserved,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(CASE WHEN bal = 0 THEN 1 END) AS BIGINT)
             |    AS n_zero,
             |  CAST(SUM(bal) AS DOUBLE) AS total_bal
             |FROM base""".stripMargin)),

    // q447 — `TRUNCATE TABLE` through Spark's V2 TruncateTableExec
    // (TxLogTable implements TruncatableTable): ONE pure-remove commit
    // — zero data IO no matter the table size, the definition
    // (schema, partitioning, stats declaration) survives, the
    // pre-truncate state stays time-travelable, and the next load
    // inherits the declared layout. The daily "reset the staging
    // table" verb, versioned instead of destructive. The hash pins the
    // metadata-only commit shape (read from the log), the definition
    // survival, the time-travel count, and the reloaded content.
    QuerySpec("q447_truncate_table",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q447t"
        TxLog.drop(t)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        s.sql("""CREATE TABLE graft_lake.q447t (
                   l_orderkey BIGINT, l_returnflag STRING,
                   l_extendedprice DOUBLE)
                 USING txlog PARTITIONED BY (l_returnflag)""")
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"),
            col("l_extendedprice").cast("double"))
        TxLog.append(li, t)
        val preRows = TxLog.read(s, t).count()
        val preVersion = TxLog.currentVersion(t)
        s.sql("TRUNCATE TABLE graft_lake.q447t")
        val metadataOnly = TxLog.removesOnly(t, TxLog.currentVersion(t))
        val emptied =
          s.sql("SELECT count(*) FROM graft_lake.q447t")
            .head().getLong(0) == 0L
        val defSurvived = TxLog.partitionColumns(t) == Seq("l_returnflag")
        val ttRows = TxLog.read(s, t, Some(preVersion)).count()
        // the table reloads under its declared layout
        li.filter(col("l_returnflag") =!= "R")
          .createOrReplaceTempView("q447_reload")
        s.sql("INSERT INTO graft_lake.q447t SELECT * FROM q447_reload")
        val pv = TxLog.partitionValues(t)
        val reloadMarked = TxLog.snapshot(t).forall(f =>
          pv.getOrElse(f, Map.empty).contains("l_returnflag"))
        s.sql("SELECT * FROM graft_lake.q447t")
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("l_extendedprice")).as("revenue"))
          .select(lit(metadataOnly && emptied).as("truncate_clean"),
            lit(defSurvived && reloadMarked).as("definition_survived"),
            lit(ttRows == preRows).as("time_travel_intact"),
            col("n_rows"), col("revenue"))
      },
      Some("""SELECT TRUE AS truncate_clean, TRUE AS definition_survived,
             |  TRUE AS time_travel_intact,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS revenue
             |FROM lineitem WHERE l_returnflag <> 'R'""".stripMargin)),

    // q448 — `CREATE TABLE dst DEEP CLONE src`: an INDEPENDENT copy —
    // live files and DV sidecars duplicate, marker fields and metadata
    // carry verbatim — so the clone's retention lifecycle detaches
    // from the source's. The probe is the exact hazard SHALLOW CLONE
    // documents: OPTIMIZE + aggressive VACUUM on the source reclaims
    // every file the clone would have referenced — the deep clone
    // keeps serving the full DV-filtered content, and mutating it
    // leaves the source untouched. At 100 TB this is the
    // dev-environment / archival fork verb: pay the copy once, own
    // the lifecycle forever.
    QuerySpec("q448_deep_clone",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val src = s"$base/q448s"
        val dst = s"$base/q448d"
        Seq(src, dst).foreach(TxLog.drop)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        s.sql("""CREATE TABLE graft_lake.q448s (
                   o_orderkey BIGINT, o_totalprice DOUBLE)
                 USING txlog""")
        TxLog.append(Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice").cast("double")),
          src)
        // outstanding deletion vectors must carry into the clone
        TxLog.deleteWhereDV(s, src, col("o_orderkey") % 9 === 0)
        s.sql("CREATE TABLE graft_lake.q448d DEEP CLONE graft_lake.q448s")
        val srcRows = TxLog.read(s, src).count()
        // the shallow-clone killer: rewrite + reclaim EVERY old source
        // file the clone could have referenced
        s.sql("OPTIMIZE graft_lake.q448s")
        val prevAge = s.conf
          .getOption("spark.graft.txlog.vacuum.minAgeMs")
        s.conf.set("spark.graft.txlog.vacuum.minAgeMs", "0")
        val vacuumed = try
          s.sql("VACUUM graft_lake.q448s RETAIN 1 VERSIONS")
            .head().getLong(0) > 0
        finally prevAge match {
          case Some(v) =>
            s.conf.set("spark.graft.txlog.vacuum.minAgeMs", v)
          case None =>
            s.conf.unset("spark.graft.txlog.vacuum.minAgeMs")
        }
        val cloneSurvives =
          s.sql("SELECT count(*) FROM graft_lake.q448d")
            .head().getLong(0) == srcRows
        // divergence: a clone-side DELETE leaves the source untouched
        s.sql("DELETE FROM graft_lake.q448d WHERE o_orderkey % 2 = 0")
        val srcUntouched =
          s.sql("SELECT count(*) FROM graft_lake.q448s")
            .head().getLong(0) == srcRows
        s.sql("SELECT * FROM graft_lake.q448d")
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .select(lit(vacuumed).as("source_vacuumed"),
            lit(cloneSurvives).as("clone_survives_vacuum"),
            lit(srcUntouched).as("source_untouched"),
            col("n_rows"), col("revenue"))
      },
      Some("""SELECT TRUE AS source_vacuumed,
             |  TRUE AS clone_survives_vacuum, TRUE AS source_untouched,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS revenue
             |FROM orders
             |WHERE o_orderkey % 9 <> 0 AND o_orderkey % 2 <> 0"""
        .stripMargin)),

    // q449 — RETENTION LIFECYCLE verbs: `VACUUM ... DRY RUN` previews
    // victims WITHOUT deleting (the operator's safety check before an
    // irreversible reclaim — Delta's verb), `RESTORE ... TO TIMESTAMP
    // AS OF` snaps back through the recorded commit instants (the
    // "what did the table look like before last night's bad load"
    // undo when nobody knows the version number), and the real VACUUM
    // then reclaims under the retention window while the restored
    // state keeps reading. The hash pins the preview's
    // non-destructiveness (time travel still works after it), the
    // timestamp resolution, the reclaim actually deleting, and the
    // exact post-restore content.
    QuerySpec("q449_retention_ops",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q449r"
        TxLog.drop(t)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        s.sql("""CREATE TABLE graft_lake.q449r (
                   o_orderkey BIGINT, o_totalprice DOUBLE) USING txlog""")
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice").cast("double"))
        TxLog.append(orders, t)                                   // v1
        TxLog.setCommitInstant(t, 1, 1000L)
        orders.filter(col("o_orderkey") % 2 === 0)
          .createOrReplaceTempView("q449_half")
        s.sql("INSERT OVERWRITE graft_lake.q449r " +
          "SELECT * FROM q449_half")                              // v2
        TxLog.setCommitInstant(t, 2, 2000L)
        val origRows = orders.count()
        val prevAge = s.conf
          .getOption("spark.graft.txlog.vacuum.minAgeMs")
        s.conf.set("spark.graft.txlog.vacuum.minAgeMs", "0")
        val (previewSafe, restoredToV1, vacuumed) = try {
          val preview = s.sql(
            "VACUUM graft_lake.q449r RETAIN 1 VERSIONS DRY RUN")
            .collect().map(_.getString(0)).toSet
          // the preview deleted nothing: v1 still time-travels whole
          val safe = preview.nonEmpty &&
            TxLog.read(s, t, Some(1)).count() == origRows
          val r = s.sql(
            "RESTORE TABLE graft_lake.q449r TO TIMESTAMP AS OF '1500'")
            .head()
          val deleted = s.sql("VACUUM graft_lake.q449r RETAIN 1 VERSIONS")
            .head().getLong(0)
          (safe, r.getLong(0) == 1L, deleted > 0)
        } finally prevAge match {
          case Some(v) =>
            s.conf.set("spark.graft.txlog.vacuum.minAgeMs", v)
          case None =>
            s.conf.unset("spark.graft.txlog.vacuum.minAgeMs")
        }
        s.sql("SELECT * FROM graft_lake.q449r")
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .select(lit(previewSafe).as("preview_nondestructive"),
            lit(restoredToV1).as("restored_to_v1"),
            lit(vacuumed).as("vacuum_reclaimed"),
            col("n_rows"), col("revenue"))
      },
      Some("""SELECT TRUE AS preview_nondestructive,
             |  TRUE AS restored_to_v1, TRUE AS vacuum_reclaimed,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS revenue
             |FROM orders""".stripMargin)),

    // q450 — `COPY INTO ... FILEFORMAT = PARQUET`: Delta's idempotent
    // file-loading verb. The commit carries a `copysrc` ledger line
    // per ingested file (canonical path), so the statement is safe to
    // re-run — a retried load after a crash, or a scheduled sweep of a
    // landing directory, ingests each file EXACTLY ONCE while files
    // that appear later keep flowing in. The hash pins all three
    // phases: the first load takes everything, the immediate re-run is
    // a no-op (0 files), and after new files land in the directory the
    // third run loads ONLY them — with the final table content checked
    // against the oracle's recomputation from the base parquet.
    QuerySpec("q450_copy_into",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q450c"
        val src = s"$base/q450src"
        TxLog.drop(t)
        TxLog.drop(src) // plain directory; drop clears the tree too
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        s.sql("""CREATE TABLE graft_lake.q450c (
                   l_orderkey BIGINT, l_quantity DOUBLE) USING txlog""")
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity").cast("double"))
        val first = li.filter(col("l_orderkey") % 3 === 0)
        val later = li.filter(col("l_orderkey") % 3 === 1)
        first.repartition(2).write.mode("overwrite").parquet(src)
        def copy() = s.sql(
          s"COPY INTO graft_lake.q450c FROM '$src' FILEFORMAT = PARQUET")
          .head()
        val r1 = copy()
        val r2 = copy() // idempotent: nothing new → 0 files, 0 rows
        later.coalesce(1).write.mode("append").parquet(src) // lands later
        val r3 = copy()
        val firstN = first.count()
        val laterN = later.count()
        s.sql("SELECT * FROM graft_lake.q450c")
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("l_quantity")).as("sum_qty"))
          .select(
            lit(r1.getLong(1) == 2L && r1.getLong(2) == firstN)
              .as("first_loaded_all"),
            lit(r2.getLong(1) == 0L && r2.getLong(2) == 0L)
              .as("rerun_noop"),
            lit(r3.getLong(2) == laterN).as("new_files_only"),
            col("n_rows"), col("sum_qty"))
      },
      Some("""SELECT TRUE AS first_loaded_all, TRUE AS rerun_noop,
             |  TRUE AS new_files_only,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_qty
             |FROM lineitem WHERE l_orderkey % 3 IN (0, 1)"""
        .stripMargin)),

    // q451 — `ALTER TABLE ... RENAME COLUMN` via COLUMN MAPPING
    // (Delta's name-mapping mode): ONE metadata commit binds the new
    // logical name to the column's unchanged physical storage name —
    // zero data bytes move, which is the only rename that exists at
    // 100 TB. The hash pins the whole lifecycle: pre-rename files read
    // under the new name, a post-rename INSERT stores under the
    // mapping, DELETE binds the new name over old files, and time
    // travel to the pre-rename version still shows the ORIGINAL
    // column name with all original rows.
    QuerySpec("q451_rename_column",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q451r"
        TxLog.drop(t)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        s.sql("""CREATE TABLE graft_lake.q451r (
                   c_custkey BIGINT, c_acctbal DOUBLE) USING txlog""")
        val cust = Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_acctbal").cast("double"))
        cust.filter(col("c_custkey") <= 1000)
          .createOrReplaceTempView("q451_first")
        cust.filter(col("c_custkey") > 1000)
          .withColumnRenamed("c_acctbal", "balance")
          .createOrReplaceTempView("q451_later")
        s.sql("INSERT INTO graft_lake.q451r SELECT * FROM q451_first") // v1
        s.sql("ALTER TABLE graft_lake.q451r " +
          "RENAME COLUMN c_acctbal TO balance")                       // v2
        val files2 = TxLog.snapshot(t).toSet
        // DML binds the NEW name over PRE-RENAME files (CoW rewrite)
        s.sql("DELETE FROM graft_lake.q451r WHERE balance < 0")       // v3
        // a post-rename write stores under the mapped physical name
        s.sql("INSERT INTO graft_lake.q451r SELECT * FROM q451_later")
        val renamedSchema = s.table("graft_lake.q451r")
          .schema.fieldNames.toSeq == Seq("c_custkey", "balance")
        val zeroRewriteRename = files2 == TxLog.snapshot(t, Some(1)).toSet
        val tt = s.sql("SELECT * FROM graft_lake.q451r VERSION AS OF 1")
        val ttOldName = tt.schema.fieldNames.toSeq ==
          Seq("c_custkey", "c_acctbal") &&
          tt.count() == cust.filter(col("c_custkey") <= 1000).count()
        s.sql("SELECT * FROM graft_lake.q451r")
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("balance")).as("sum_balance"))
          .select(lit(renamedSchema).as("renamed_schema"),
            lit(zeroRewriteRename).as("rename_moved_no_files"),
            lit(ttOldName).as("time_travel_old_name"),
            col("n_rows"), col("sum_balance"))
      },
      Some("""WITH cur AS (
             |  SELECT c_custkey, c_acctbal AS balance FROM customer
             |  WHERE c_custkey <= 1000 AND c_acctbal >= 0
             |  UNION ALL
             |  SELECT c_custkey, c_acctbal AS balance FROM customer
             |  WHERE c_custkey > 1000)
             |SELECT TRUE AS renamed_schema,
             |  TRUE AS rename_moved_no_files,
             |  TRUE AS time_travel_old_name,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(balance AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_balance
             |FROM cur""".stripMargin)),

    // q452 — `ALTER TABLE ... DROP COLUMN` + no-resurrection: the drop
    // is ONE metadata commit that RETIRES the column's physical
    // storage name (old files keep the bytes until rewritten; reads
    // project them away). The sharp edge this query pins: a LATER
    // `ADD COLUMN` of the SAME name binds a fresh physical name, so
    // the dropped values can never leak back — the re-added column
    // reads NULL for every pre-existing row, and only rows written
    // after the re-add carry values. Time travel before the drop
    // still serves the original column.
    QuerySpec("q452_drop_column",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q452d"
        TxLog.drop(t)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        s.sql("""CREATE TABLE graft_lake.q452d (
                   o_orderkey BIGINT, o_totalprice DOUBLE,
                   o_orderstatus STRING) USING txlog""")
        val ord = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice").cast("double"),
            col("o_orderstatus"))
        ord.filter(col("o_orderkey") % 4 === 0)
          .createOrReplaceTempView("q452_first")
        ord.filter(col("o_orderkey") % 4 === 1)
          .createOrReplaceTempView("q452_later")
        s.sql("INSERT INTO graft_lake.q452d SELECT * FROM q452_first") // v1
        s.sql("ALTER TABLE graft_lake.q452d DROP COLUMN o_orderstatus")    // v2
        val dropped = s.table("graft_lake.q452d")
          .schema.fieldNames.toSeq == Seq("o_orderkey", "o_totalprice")
        s.sql("ALTER TABLE graft_lake.q452d ADD COLUMN o_orderstatus STRING")
        // the re-added column must read NULL everywhere — resurrection
        // of the dropped values would show up right here
        val resurrected = s.sql("SELECT count(*) FROM graft_lake.q452d " +
          "WHERE o_orderstatus IS NOT NULL").head().getLong(0)
        s.sql("INSERT INTO graft_lake.q452d SELECT * FROM q452_later")
        val ttComments = s.sql(
          "SELECT count(o_orderstatus) FROM graft_lake.q452d VERSION AS OF 1")
          .head().getLong(0)
        val firstN = ord.filter(col("o_orderkey") % 4 === 0)
          .filter(col("o_orderstatus").isNotNull).count()
        s.sql("SELECT * FROM graft_lake.q452d")
          .agg(count(lit(1)).as("n_rows"),
            count(col("o_orderstatus")).as("n_comments"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .select(lit(dropped).as("dropped_schema"),
            lit(resurrected == 0L).as("no_resurrection"),
            lit(ttComments == firstN).as("time_travel_serves_dropped"),
            col("n_rows"), col("n_comments"), col("revenue"))
      },
      Some("""SELECT TRUE AS dropped_schema, TRUE AS no_resurrection,
             |  TRUE AS time_travel_serves_dropped,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(*) FILTER (WHERE o_orderkey % 4 = 1
             |    AND o_orderstatus IS NOT NULL) AS BIGINT) AS n_comments,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS revenue
             |FROM orders WHERE o_orderkey % 4 IN (0, 1)"""
        .stripMargin)),

    // q453 — WRITE-SERIALIZABLE CONCURRENCY (Delta's default isolation):
    // a DELETE whose commit window is interleaved by a BLIND APPEND
    // retries and lands instead of failing optimistic concurrency —
    // on a 100 TB table the nightly retention DELETE and the ingest
    // streams must coexist; strict OCC would kill one of them every
    // time. The interleave is injected deterministically (the append
    // commits between the DELETE's snapshot read and its claim), and
    // the WriteSerializable outcome is exact: delete applied to the
    // old snapshot, appended rows all survive (they serialize AFTER
    // the delete), one retried commit, no exception. Anything beyond
    // a pure append (OPTIMIZE/DML/metadata) still conflicts — the
    // spec suite pins that half.
    QuerySpec("q453_concurrent_append_dml",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q453w"
        TxLog.drop(t)
        val ord = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice").cast("double"))
        TxLog.create(ord.filter(col("o_orderkey") % 2 === 0), t) // v0
        val late = ord.filter(col("o_orderkey") % 2 === 1)
          .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
        // the blind append lands INSIDE the DELETE's commit window
        TxLog.appendRaceHook = () => {
          TxLog.appendRaceHook = () => ()
          TxLog.append(late, t): Unit
        }
        val deleteLanded = try {
          TxLog.deleteWhere(s, t, col("o_totalprice") < 50000.0); true
        } finally { TxLog.appendRaceHook = () => () }
        // v1 = the racing append, v2 = the retried delete
        val serialized = TxLog.currentVersion(t) == 2
        TxLog.read(s, t)
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("o_totalprice")).as("revenue"))
          .select(lit(deleteLanded).as("delete_survived_race"),
            lit(serialized).as("append_then_delete_versions"),
            col("n_rows"), col("revenue"))
      },
      Some("""WITH cur AS (
             |  SELECT o_totalprice FROM orders
             |  WHERE o_orderkey % 2 = 0 AND o_totalprice >= 50000.0
             |  UNION ALL
             |  SELECT o_totalprice FROM orders WHERE o_orderkey % 2 = 1)
             |SELECT TRUE AS delete_survived_race,
             |  TRUE AS append_then_delete_versions,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS revenue
             |FROM cur""".stripMargin)),

    // q454 — CHECK constraints as SQL verbs (Delta's `ALTER TABLE ...
    // ADD CONSTRAINT name CHECK (...)` / `DROP CONSTRAINT`): the
    // governance gate becomes operable without touching the library
    // API. The hash pins the full lifecycle: existing rows validate at
    // ADD time, a violating batch is rejected WHOLE (nothing commits —
    // stage-first atomicity), compliant batches flow, DESCRIBE DETAIL
    // counts the active constraint, and after DROP CONSTRAINT the
    // formerly-refused row lands.
    QuerySpec("q454_sql_constraints",
      (s, dir) => {
        import graft.core.TxLog
        val base = Scratch.dir("lakecat", dir)
        val t = s"$base/q454c"
        TxLog.drop(t)
        new java.io.File(base).mkdirs()
        s.conf.set("spark.sql.catalog.graft_lake",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_lake.base", base)
        s.sql("""CREATE TABLE graft_lake.q454c (
                   l_orderkey BIGINT, l_quantity DOUBLE) USING txlog""")
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity").cast("double"))
        li.filter(col("l_orderkey") % 5 === 0)
          .createOrReplaceTempView("q454_first")
        li.filter(col("l_orderkey") % 5 === 1)
          .createOrReplaceTempView("q454_later")
        s.sql("INSERT INTO graft_lake.q454c SELECT * FROM q454_first")
        s.sql("ALTER TABLE graft_lake.q454c " +
          "ADD CONSTRAINT qty_pos CHECK (l_quantity > 0)")
        val before = s.sql("SELECT count(*) FROM graft_lake.q454c")
          .head().getLong(0)
        val refused = try {
          s.sql("INSERT INTO graft_lake.q454c VALUES (-1, -7.5)"); false
        } catch { case _: Throwable => true }
        val unchanged = s.sql("SELECT count(*) FROM graft_lake.q454c")
          .head().getLong(0) == before
        s.sql("INSERT INTO graft_lake.q454c SELECT * FROM q454_later")
        val counted = s.sql("DESCRIBE DETAIL graft_lake.q454c")
          .select("num_constraints").head().getLong(0) == 1L
        s.sql("ALTER TABLE graft_lake.q454c DROP CONSTRAINT qty_pos")
        s.sql("INSERT INTO graft_lake.q454c VALUES (-1, -7.5)")
        s.sql("SELECT * FROM graft_lake.q454c")
          .agg(count(lit(1)).as("n_rows"),
            Stable.dsum(col("l_quantity")).as("sum_qty"))
          .select(lit(refused && unchanged).as("violation_rejected_whole"),
            lit(counted).as("constraint_in_detail"),
            col("n_rows"), col("sum_qty"))
      },
      Some("""WITH cur AS (
             |  SELECT l_quantity FROM lineitem WHERE l_orderkey % 5 IN (0, 1)
             |  UNION ALL SELECT -7.5)
             |SELECT TRUE AS violation_rejected_whole,
             |  TRUE AS constraint_in_detail,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_qty
             |FROM cur""".stripMargin)))
}
