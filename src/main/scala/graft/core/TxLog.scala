package graft.core

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import LogAction.{Add, AddField, Constraint, CopySrc, Dv, Dvf, Feature,
  Keyed, NoDataChange, Part, Property, Remove, Schema, Ts, TxTables, Txn,
  Unconstraint, UncopySrc, Unproperty, Xref, escapeVal, unescapeVal}

/** A minimal lakehouse TRANSACTION LOG (the Delta/Iceberg core idea,
  * built from first principles on plain parquet + an append-only log of
  * versioned commits): every table mutation is a new numbered log entry
  * listing the data files it ADDS and REMOVES, committed atomically by
  * a hard-link claim that fails if the version already exists. That one
  * filesystem primitive buys, with no coordination service:
  *
  *   - ATOMIC multi-file commits: readers list the log, never the data
  *     directory, so a writer's staged files are invisible until its
  *     log entry lands (and a crashed writer leaves only unreferenced
  *     orphans — data-then-log write order);
  *   - SNAPSHOT ISOLATION + TIME TRAVEL: version N's live-file set is
  *     the log replayed through N — any historical version stays
  *     readable until vacuumed;
  *   - OPTIMISTIC CONCURRENCY: two writers racing to commit version N
  *     both stage data, but the claim is create-if-absent — exactly
  *     one wins, the loser re-reads and retries or aborts
  *     (TxLogSpec pins the race);
  *   - CHANGE DATA FEED: a version's delta IS its add/remove file
  *     lists — incremental consumers read only those files (q375).
  *
  * Log entries are files named `<version %08d>.txt` under `_log/`,
  * one action per line: data files added and removed, deletion vectors,
  * idempotency markers, constraints, properties, the schema and the
  * rest. [[LogAction]] is the grammar's single definition — every line
  * is built by its encoder and read back by its decoder, and this
  * object works on typed actions only. At 100 TB the log is file-grain
  * metadata (KBs per commit for thousands of data files); replay cost
  * is bounded by CHECKPOINTS — every [[CheckpointInterval]]-th commit
  * also writes `<version>.checkpoint` holding the fully-replayed state
  * ([[LogState.serialize]]: live adds with their markers, outstanding
  * DVs, txn markers, metadata), and every reader starts from the
  * nearest checkpoint at or below its version, so replay is
  * O(interval) raw entries regardless of table age (the Delta
  * `_last_checkpoint` shape). */
object TxLog {

  private def logDir(dir: String): File = new File(dir, "_log")

  private def versionFile(dir: String, v: Int): Path =
    logDir(dir).toPath.resolve(f"$v%08d.txt")

  /** Default vacuum file-age guard (Delta's 7-day tombstone retention):
    * files younger than this are never vacuum victims, so a concurrent
    * writer's staged-but-uncommitted files (moved into the table dir by
    * [[stage]] BEFORE its commit lands) cannot be deleted out from
    * under it. */
  val DefaultVacuumMinAgeMs: Long = 7L * 24 * 3600 * 1000

  /** Atomically claim version `v` with `lines` as its body. The claim
    * is `Files.createLink` (hard link), which fails atomically with
    * FileAlreadyExistsException on every POSIX filesystem — unlike a
    * plain `Files.move` without ATOMIC_MOVE, whose exists-check +
    * rename() window would let two racing writers both "win" and one
    * silently overwrite the other (ADVICE r8). Exactly one writer per
    * version; the loser gets ConcurrentModificationException. */
  private def claimVersion(dir: String, v: Int,
      actions: Seq[LogAction]): Int = {
    logDir(dir).mkdirs()
    val tmp = Files.createTempFile(logDir(dir).toPath, s".commit-$v-", ".tmp")
    // Every commit records its instant as a `ts` line INSIDE the entry
    // (ADVICE r9): [[versionAt]] prefers it over the file mtime, so
    // timestamp time travel survives copies/rsync/restores that reset
    // file metadata. Readers ignore unknown line types, so pre-ts logs
    // and ts-bearing logs interoperate both ways.
    Files.write(tmp,
      LogAction.render(Ts(System.currentTimeMillis()) +: actions))
    try {
      Files.createLink(versionFile(dir, v), tmp)
      Files.deleteIfExists(tmp)
      maybeCheckpoint(dir, v)
      v
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new java.util.ConcurrentModificationException(
          s"version $v was committed by another writer")
    }
  }

  /** Race-window seam for the append-retry specs: runs between an
    * appender's version read and its claim — a test injects a
    * competing commit here to force a deterministic lost race. */
  private[graft] var appendRaceHook: () => Unit = () => ()

  /** Claim an APPEND-shaped commit at the next free version, RETRYING
    * a lost claim race: blind appends COMMUTE (Delta's conflict rule —
    * concurrent appends never conflict with each other), so the loser
    * re-validates its staged files against the winner's new state (a
    * racing `addConstraint` must still gate it — constraints validate
    * existing rows, and ours were unreferenced when the winner checked)
    * and takes the next slot instead of failing the whole job. Strict
    * optimistic concurrency stays for every commit that READ state to
    * decide what to write (replace/upsert/delete/optimize/restore and
    * the multi-table claims): those must conflict. `mkLines` re-derives
    * the commit lines per attempt, so a racing schema evolution folds
    * into the recorded union schema. */
  private def claimAppendRetrying(spark: SparkSession, dir: String,
      staged: Seq[String], mkLines: () => Seq[LogAction],
      maxRetries: Int = 20): Int = {
    var attempt = 0
    while (true) {
      val v = currentVersion(dir) + 1
      appendRaceHook()
      try return claimVersion(dir, v, mkLines())
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          validateStaged(spark, dir, staged)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The txn-marked variant ([[appendIdempotent]] /
    * [[commitStagedIdempotent]]): the marker is re-checked on EVERY
    * attempt, AFTER reading the claim target — the race may be against
    * a replica of THIS batch (two speculative drivers), and a check
    * done only before the loop leaves a window where the replica's
    * commit lands between the caller's early check and the claim
    * (review r12 #3). The check-then-claim pair is sound because slots
    * claim sequentially: a duplicate committing at a slot below ours
    * is visible to our check (it reads the latest state), and one
    * racing for OUR slot makes the atomic claim fail — the retry then
    * sees its marker. On detection the duplicate staging is deleted
    * and the replay contract (-1) holds. */
  private def claimTxnRetrying(spark: SparkSession, dir: String,
      staged: Seq[String], app: String, txnId: Long,
      mkLines: () => Seq[LogAction], maxRetries: Int = 20): Int = {
    var attempt = 0
    while (true) {
      val v = currentVersion(dir) + 1
      if (txnSeen(dir, app, txnId)) {
        staged.foreach(f => Files.deleteIfExists(Paths.get(dir, f)))
        return -1
      }
      appendRaceHook()
      try return claimVersion(dir, v, mkLines() :+ Txn(app, txnId))
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          validateStaged(spark, dir, staged)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Highest committed version, or -1 for an uninitialized table.
    * Checkpoint files count: a log whose raw entries were truncated
    * below its latest checkpoint still resolves. */
  def currentVersion(dir: String): Int = {
    val files = Option(logDir(dir).listFiles()).getOrElse(Array.empty)
    val vs = files.flatMap { f =>
      val n = f.getName
      if (n.endsWith(".txt")) n.stripSuffix(".txt").toIntOption
      else if (n.endsWith(".checkpoint")) n.stripSuffix(".checkpoint").toIntOption
      else None
    }
    if (vs.isEmpty) -1 else vs.max
  }

  /** (added, removed) data files of one committed version. */
  def changes(dir: String, v: Int): (Seq[String], Seq[String]) = {
    val acts = entryActions(dir, v)
    (acts.collect { case a: Add => a.file }, acts.collect { case Remove(f) => f })
  }

  /** Is version `v` a pure-remove commit — at least one remove and no
    * other action besides its instant stamp? The shape of a
    * metadata-only DELETE or TRUNCATE: files leave the live set with no
    * data read and nothing rewritten. */
  private[graft] def removesOnly(dir: String, v: Int): Boolean = {
    val acts = entryActions(dir, v).filterNot(_.isInstanceOf[Ts])
    acts.nonEmpty && acts.forall(_.isInstanceOf[Remove])
  }

  /** Does version `v` delete rows — remove lines (COW rewrites,
    * OPTIMIZE) or deletion-vector lines (merge-on-read)? The streaming
    * source's append-only guard: a DV-only commit removes no FILES but
    * still deletes ROWS a tailing consumer already emitted. */
  private[graft] def versionDeletes(dir: String, v: Int): Boolean =
    entryActions(dir, v).exists {
      case _: Remove | _: Dv | _: Dvf => true
      case _ => false
    }

  /** The fully-replayed log state at one version: live files (keyed by
    * the file field, valued by the [[Add]] action so its markers survive
    * checkpointing), outstanding deletion-vector sources, and seen txn
    * markers. One fold serves every reader — [[snapshot]],
    * [[fileStats]], [[deletionVectors]], [[txnSeen]] — and
    * [[serialize]] is its only writer: checkpoints, RESTORE and both
    * clones. */
  private final class LogState {
    val live = scala.collection.mutable.LinkedHashMap.empty[String, Add]
    val dv = scala.collection.mutable.LinkedHashMap
      .empty[String, (Set[Long], Seq[String])]
    val txns = scala.collection.mutable.LinkedHashSet.empty[Txn]
    /** Active table CHECK constraints, name → SQL expression text. */
    val cons = scala.collection.mutable.LinkedHashMap.empty[String, String]
    /** Table properties (TBLPROPERTIES), key → value — pure metadata,
      * carried through checkpoints like constraints. */
    val props = scala.collection.mutable.LinkedHashMap.empty[String, String]
    /** Last recorded table schema (JSON), Delta's metaData action. */
    var schemaJson: Option[String] = None
    /** Source files already ingested by `COPY INTO` (canonical paths)
      * — the idempotent-load ledger: a re-run of the same COPY INTO
      * skips them. Monotone ingest HISTORY, not content state: RESTORE
      * leaves it alone (the files were loaded once, restoring data does
      * not un-load them); REPLACE TABLE clears it (a new definition
      * owes nothing to the old ingest). */
    val copied = scala.collection.mutable.LinkedHashSet.empty[String]
    /** REQUIRED reader features (`feature` lines — Delta's protocol
      * action): a table whose correct interpretation needs machinery
      * beyond "ignore unknown line types" DECLARES it, and a reader
      * that does not implement the feature refuses the whole table
      * instead of silently misreading it (e.g. a pre-column-mapping
      * reader would surface physical storage names and resurrect
      * dropped columns). Monotone — features never retire. */
    val features = scala.collection.mutable.LinkedHashSet.empty[String]
    /** True when the fold crossed an UNRESOLVED `xref` entry (a
      * pending multi-table transaction): checkpointing such a state
      * would permanently bake the pre-publish view in — [[checkpoint]]
      * refuses. */
    var pendingXref: Boolean = false

    /** Apply one version's (or one checkpoint's) actions: removes
      * first — the commit order every writer uses — then the rest. */
    def apply(actions: Seq[LogAction]): Unit = {
      actions.foreach {
        case Remove(f) => live -= f; dv -= f
        case _ => ()
      }
      actions.foreach {
        case a: Add => live(a.file) = a
        case Dv(f, ps) =>
          val (inl, sc) = dv.getOrElse(f, (Set.empty[Long], Seq.empty))
          dv(f) = (inl ++ ps, sc)
        case Dvf(f, path) =>
          val (inl, sc) = dv.getOrElse(f, (Set.empty[Long], Seq.empty))
          dv(f) = (inl, sc :+ path)
        case t: Txn => txns += t
        case Constraint(n, sql) => cons(n) = sql
        case Unconstraint(n) => cons -= n
        case Property(k, v) => props(k) = v
        case Unproperty(k) => props -= k
        case CopySrc(src) => copied += src
        case UncopySrc(src) => copied -= src
        case Feature(n) => features += n
        case Schema(j) => schemaJson = Some(j)
        case _ => ()
      }
    }

    /** The state as actions (round-trips through [[apply]]): the
      * [[fileActions]], then the metadata. `path` maps every data-file
      * and sidecar reference (a clone re-roots them); `forClone` lists
      * the files by name and drops the txn markers, which belong to the
      * source's writers, not to a new table. */
    def serialize(path: String => String = identity,
        forClone: Boolean = false): Seq[LogAction] =
      fileActions(path, sorted = forClone) ++
        (if (forClone) Seq.empty else txns.toSeq) ++
        cons.toSeq.map { case (n, sql) => Constraint(n, sql) } ++
        props.toSeq.map { case (k, v) => Property(k, v) } ++
        copied.toSeq.map(CopySrc) ++
        features.toSeq.map(Feature) ++
        schemaJson.map(Schema)

    /** Live adds with their markers verbatim, then the live files'
      * outstanding deletion vectors — in log order, or by file name
      * when `sorted`. */
    def fileActions(path: String => String = identity,
        sorted: Boolean = false): Seq[LogAction] = {
      def order[V](m: Iterable[(String, V)]): Seq[(String, V)] =
        if (sorted) m.toSeq.sortBy(_._1) else m.toSeq
      order(live).map { case (_, a) => a.copy(file = path(a.file)) } ++
        order(dv.filter { case (f, _) => live.contains(f) })
          .flatMap { case (f, (inline, sidecars)) =>
            (if (inline.nonEmpty) Seq(Dv(path(f), inline.toSeq.sorted))
            else Seq.empty) ++ sidecars.map(sc => Dvf(path(f), path(sc)))
          }
    }
  }

  private def checkpointFile(dir: String, v: Int): Path =
    logDir(dir).toPath.resolve(f"$v%08d.checkpoint")

  /** Highest checkpoint at or below `v`, if any. */
  private def latestCheckpoint(dir: String, v: Int): Option[Int] = {
    val files = Option(logDir(dir).listFiles()).getOrElse(Array.empty)
    val cs = files.flatMap(f => f.getName.stripSuffix(".checkpoint").toIntOption
      .filter(_ => f.getName.endsWith(".checkpoint")))
      .filter(_ <= v)
    if (cs.isEmpty) None else Some(cs.max)
  }

  /** One committed version's EFFECTIVE actions, `xref` indirection
    * resolved (the multi-table transaction protocol,
    * [[commitAllLines]]): the entry's effective actions live in a
    * SHARED transaction file, keyed per table — one atomic hard-link of
    * that file is the commit point for EVERY participating table. A
    * missing tx file means the transaction never published (writer
    * crashed between claims and publish): the entry is a permanent
    * no-op hole and resolves to NOTHING — no reader ever observes one
    * table updated without the others. `onPending` fires in that case
    * (checkpoint safety). */
  private[graft] def entryActions(dir: String, v: Int,
      onPending: () => Unit = () => ()): Seq[LogAction] =
    LogAction.read(versionFile(dir, v)).flatMap {
      case Xref(rel, key) =>
        val f = new File(dir, rel)
        if (!f.isFile) { onPending(); Seq.empty }
        else LogAction.read(f.toPath).collect { case Keyed(`key`, a) => a }
      case a => Seq(a)
    }

  /** Replay through `asOf`, starting from the nearest checkpoint — the
    * O(#commits) driver IO becomes O(interval) once checkpoints exist
    * (the Delta `_last_checkpoint` growth fix, as a state file). */
  private def state(dir: String, asOf: Option[Int]): LogState = {
    val cur = currentVersion(dir)
    require(cur >= 0, s"$dir is not a TxLog table (no committed versions)")
    val v = asOf.getOrElse(cur)
    require(v >= 0 && v <= cur,
      s"version $v does not exist (table is at version $cur)")
    val st = new LogState
    val start = latestCheckpoint(dir, v) match {
      case Some(c) => st.apply(LogAction.read(checkpointFile(dir, c))); c + 1
      case None => 0
    }
    (start to v).foreach(i =>
      st.apply(entryActions(dir, i, () => st.pendingXref = true)))
    // PROTOCOL GATE: a table declaring a reader feature this engine
    // does not implement refuses WHOLE — readers and writers both fold
    // through here, so neither can silently misread or corrupt it.
    // "Ignore unknown line types" covers additive bookkeeping only;
    // `feature` lines mark the changes where ignoring IS misreading.
    val unknown = st.features.toSet -- SupportedReaderFeatures
    if (unknown.nonEmpty) throw new UnsupportedOperationException(
      s"$dir requires table feature(s) ${unknown.toSeq.sorted
        .mkString(", ")} that this engine version does not implement — " +
        "upgrade the engine to use this table")
    st
  }

  /** Reader features this engine implements (the [[LogState.features]]
    * gate). Never remove an entry; add one whenever a new line type
    * changes the meaning of existing state rather than extending it. */
  val SupportedReaderFeatures: Set[String] = Set("column-mapping")

  /** Write a CHECKPOINT of the replayed state at `asOf` (default
    * current): subsequent readers replay from it instead of version 0.
    * Pure log metadata — no data IO; idempotent (an existing checkpoint
    * for the version is kept). Raw version files stay untouched, so
    * [[changes]]-based CDF and pre-checkpoint time travel keep working
    * as long as they are retained. */
  def checkpoint(dir: String, asOf: Option[Int] = None): Int = {
    val v = asOf.getOrElse(currentVersion(dir))
    val st = state(dir, Some(v))
    // a checkpoint over a PENDING multi-table transaction would bake
    // the pre-publish view in permanently (the tx's lines land later,
    // but replay would start above them) — refuse; maybeCheckpoint's
    // best-effort catch skips it and a later commit checkpoints fine
    require(!st.pendingXref,
      s"cannot checkpoint $dir at $v: a multi-table transaction in " +
        "range has not published yet")
    val tmp = Files.createTempFile(logDir(dir).toPath, s".ckpt-$v-", ".tmp")
    Files.write(tmp, LogAction.render(st.serialize()))
    try Files.createLink(checkpointFile(dir, v), tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    finally Files.deleteIfExists(tmp): Unit
    v
  }

  /** Auto-checkpoint cadence: writers call [[maybeCheckpoint]] after a
    * successful commit; every `CheckpointInterval`-th version gets a
    * checkpoint (Delta's every-10-commits default). */
  val CheckpointInterval: Int = 10

  private def maybeCheckpoint(dir: String, v: Int): Unit =
    if (v > 0 && v % CheckpointInterval == 0)
      try checkpoint(dir, Some(v)): Unit
      catch { case _: Throwable => () } // best-effort; never fails a commit

  /** Live data files at `asOf` (default: latest), by checkpointed log
    * replay. */
  def snapshot(dir: String, asOf: Option[Int] = None): Seq[String] =
    state(dir, asOf).live.keys.toSeq

  /** Commit `adds`/`removes` as version `expected + 1`; exactly one
    * writer per version (see [[claimVersion]]). */
  def commit(dir: String, expected: Int,
      adds: Seq[String], removes: Seq[String]): Int =
    claimVersion(dir, expected + 1,
      removes.map(Remove) ++ adds.map(Add(_)))

  /** Stage `df` as uniquely-named parquet files in the table directory
    * (INVISIBLE until a commit references them); returns their names.
    * On a column-mapped table the frame writes under PHYSICAL storage
    * names ([[toPhysicalDf]]) — every writer inherits the mapping. */
  def stage(df: DataFrame, dir: String): Seq[String] =
    stage(df, dir, useMapping = true)

  private def stage(df: DataFrame, dir: String,
      useMapping: Boolean): Seq[String] = {
    new File(dir).mkdirs()
    val tmp = Files.createTempDirectory(Paths.get(dir), ".stage-")
    (if (useMapping) toPhysicalDf(df, dir) else df)
      .write.mode("overwrite").parquet(tmp.toString)
    val parts = Option(tmp.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .sortBy(_.getName)
    val names = parts.zipWithIndex.map { case (f, i) =>
      val name = s"part-${java.util.UUID.randomUUID().toString.take(8)}-$i.parquet"
      Files.move(f.toPath, Paths.get(dir, name),
        StandardCopyOption.ATOMIC_MOVE)
      name
    }.toSeq
    // clear the staging litter (crc/_SUCCESS); data files already moved
    Option(tmp.toFile.listFiles()).getOrElse(Array.empty)
      .foreach(f => Files.deleteIfExists(f.toPath))
    Files.deleteIfExists(tmp)
    names
  }

  /** Stage + commit with FILE STATISTICS: each add line carries the
    * staged file's min/max of every column in `statsCols` as trailing
    * `<col>\t<min>\t<max>` triples — the log-resident zone maps that
    * let [[pruneSnapshot]] skip files at PLAN time, the way
    * Delta/Iceberg store per-file column bounds. Stats columns must be
    * integral (bounds are exact longs). The bounds come from a
    * post-stage read here; a production writer takes them from the
    * parquet footer it just wrote, for free. Older/statless add lines
    * parse fine everywhere (the name is always field 1). */
  def appendWithStats(spark: SparkSession, df: DataFrame, dir: String,
      statsCol: String): Int =
    appendWithStats(spark, df, dir, Seq(statsCol))

  /** Multi-column form: one add line carries one triple PER stats
    * column, so [[pruneSnapshot]] skips on any of them — the layout
    * payoff of [[optimize]]'s z-order clustering. */
  def appendWithStats(spark: SparkSession, df: DataFrame, dir: String,
      statsCols: Seq[String]): Int = {
    // DECLARED stats columns union with the explicit request — a
    // caller asking for extra bounds never drops the table's own
    val cols = (statsCols ++ statsColumns(dir)).distinct
    val declared = partitionColumns(dir)
    if (declared.nonEmpty) {
      // declared layout wins: partition-pure files whose adds carry
      // BOTH `p:` markers and the zone-map bounds
      val (staged, pAdds) = stagePartitioned(spark, df, dir, declared)
      val full = enrichLines(spark, dir, pAdds, cols)
      return claimAppendRetrying(spark, dir, staged,
        () => full ++ schemaLine(df, dir))
    }
    val staged = stageEnforced(df, dir)
    // bounds are content properties of the staged files — computed once;
    // only the schema union re-derives per retry attempt
    val statAdds = enrichLines(spark, dir, staged.map(Add(_)), cols)
    claimAppendRetrying(spark, dir, staged,
      () => statAdds ++ schemaLine(df, dir))
  }

  /** Per-file zone-map marker fields for `statsCols`, keyed by staged
    * basename — computed in ONE distributed scan over the staged files
    * (a per-file agg job each would be n driver-sequential jobs on an
    * n-file batch); only the file-grain bounds map reaches the
    * driver. */
  private def statMarkersFor(spark: SparkSession, dir: String,
      staged: Seq[String], statsCols0: Seq[String])
      : Map[String, Seq[AddField]] = {
    import org.apache.spark.sql.functions.{col, max, min}
    if (statsCols0.isEmpty || staged.isEmpty) return Map.empty
    val src = spark.read.parquet(staged.map(f => s"$dir/$f"): _*)
    // a declared stats column missing from this batch's schema (a
    // narrow pre-evolution write) stays statless — conservative keep
    val statsCols = statsCols0.filter(c => src.schema.exists(_.name == c))
    if (statsCols.isEmpty) return Map.empty
    // type-aware bounds: string columns get `s:` markers in binary UTF8
    // order (what Spark's min/max over strings IS); everything else is
    // cast to the exact-long triples [[pruneSnapshot]] consumes
    val isStr = statsCols.map(c => c ->
      (src.schema(c).dataType == org.apache.spark.sql.types.StringType)
    ).toMap
    val aggs = statsCols.flatMap(c => Seq(
      min(if (isStr(c)) col(c) else col(c).cast("long")).as(s"mn_$c"),
      max(if (isStr(c)) col(c) else col(c).cast("long")).as(s"mx_$c")))
    val bounds = src
      .groupBy(col("_metadata.file_name").as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => r.getString(0) ->
        statsCols.zipWithIndex.flatMap { case (c, i) =>
          // an all-NULL column in a file has no bounds — leave the
          // column statless for that file (conservative keep)
          if (r.isNullAt(1 + 2 * i) || r.isNullAt(2 + 2 * i)) None
          else if (isStr(c)) Some(LogAction.StrBounds(c,
            r.getString(1 + 2 * i), r.getString(2 + 2 * i)))
          else Some(LogAction.Bounds(c,
            r.getLong(1 + 2 * i), r.getLong(2 + 2 * i)))
        })
      .toMap
    // a staged file can legitimately be EMPTY (a sampled range
    // exchange may produce a 0-row partition) — it has no bounds row;
    // record it statless, the conservative always-kept shape
    bounds
  }

  /** Per-file [min, max] of `statsCol` from the log's add lines (files
    * committed without stats are absent — callers must keep them). */
  def fileStats(dir: String, statsCol: String,
      asOf: Option[Int] = None): Map[String, (Long, Long)] =
    state(dir, asOf).live.values.flatMap(a =>
      a.stats.get(statsCol).map(a.file -> _)).toMap

  /** ALL per-file zone maps at once: file → (col → [min, max]) from
    * the log's add lines — the connector's plan-time pruning input
    * ([[graft.sources.TxLogDataSource]] reads it once per scan). */
  def fileStatsAll(dir: String,
      asOf: Option[Int] = None): Map[String, Map[String, (Long, Long)]] =
    state(dir, asOf).live.values.map(a => a.file -> a.stats).toMap

  /** ONE log fold serving every pruning consumer at once: the ordered
    * live-file list plus all three per-file metadata maps (long zone
    * maps, string zone maps, partition values). The per-map accessors
    * above each replay the log themselves — a filtered catalog scan
    * calling all of them (review r12) paid five folds where this pays
    * one. */
  def pruneBundle(dir: String, asOf: Option[Int] = None)
      : (Seq[String], Map[String, Map[String, (Long, Long)]],
         Map[String, Map[String, (String, String)]],
         Map[String, Map[String, String]]) = {
    val adds = state(dir, asOf).live.values.toSeq
    (adds.map(_.file),
      adds.map(a => a.file -> a.stats).toMap,
      adds.map(a => a.file -> a.strStats).toMap,
      adds.map(a => a.file -> a.partitionValues).toMap)
  }

  /** ALL per-file STRING zone maps (binary UTF8 [min, max]) — the
    * string-column counterpart of [[fileStatsAll]], written by
    * [[appendWithStats]] for string-typed stats columns as `s:` markers
    * on the add line. */
  def fileStatsStrAll(dir: String,
      asOf: Option[Int] = None): Map[String, Map[String, (String, String)]] =
    state(dir, asOf).live.values.map(a => a.file -> a.strStats).toMap

  /** Per-file PARTITION VALUES from the log's add lines (Delta's
    * `partitionValues`): pure log metadata, no data IO. Files
    * committed without partition markers are absent. */
  def partitionValues(dir: String,
      asOf: Option[Int] = None): Map[String, Map[String, String]] =
    state(dir, asOf).live.values.map(a => a.file -> a.partitionValues).toMap

  /** Live files whose `statsCol` range intersects [lo, hi] — plus any
    * file with no recorded stats (skipping must be conservative).
    * Returns (kept, total live) so callers can assert real pruning. */
  def pruneSnapshot(dir: String, statsCol: String, lo: Long, hi: Long,
      asOf: Option[Int] = None): (Seq[String], Int) = {
    val live = snapshot(dir, asOf)
    val stats = fileStats(dir, statsCol, asOf)
    val kept = live.filter { f =>
      stats.get(f).forall { case (fLo, fHi) => fLo <= hi && lo <= fHi }
    }
    (kept, live.size)
  }

  /** CREATE (version 0) — refuses on an existing table. */
  /** IN-LOG SCHEMA (Delta's metaData action): data commits record the
    * table's UNION schema as an (escaped JSON) `schema` line whenever a
    * write changes it — new columns append, existing field types win.
    * The recorded schema is AUTHORITATIVE for live reads since
    * optimization r13 (`scanUnderLogSchema` / `TxLogSource` read under
    * it instead of running a footer-merge job per read), so a write
    * whose existing-column types differ from it would produce files
    * unreadable under the now-load-bearing line — such writes REFUSE
    * below (evolution stays add-nullable-columns-only; ADVICE r13).
    * Also serves the one state footers never could: a table EMPTIED by
    * deletes whose removed files were since vacuumed reads as an empty
    * frame with the recorded schema instead of failing
    * schema-unrecoverable. Legacy tables without a recorded line keep
    * the removed-file-walk fallback; writers only START recording on
    * tables that have one (or are new), so a stale narrower-than-union
    * line can never appear. */
  private def schemaLine(df: DataFrame, dir: String,
      exact: Boolean = false): Seq[LogAction] =
    schemaLineOf(df.schema, dir, exact)

  private def schemaLineOf(schema: org.apache.spark.sql.types.StructType,
      dir: String, exact: Boolean = false): Seq[LogAction] = {
    import org.apache.spark.sql.types.{DataType, StructType}
    if (currentVersion(dir) < 0) return Seq(Schema(schema.json))
    state(dir, None).schemaJson match {
      case None => Seq.empty // legacy table — stay on the fallback path
      case Some(j) =>
        val prior = DataType.fromJson(j).asInstanceOf[StructType]
        // replace() swaps the WHOLE live set: the new schema is exactly
        // the frame's (a replaced-away column must not linger)
        val next =
          if (exact) schema
          else {
            // write-time guard (ADVICE r13): reads trust the recorded
            // types, so an append changing an existing column's TYPE
            // would commit files misread under them — refuse with the
            // remedy instead of silently keeping the prior type. Nested
            // nullability is not a type change: file reads are nullable
            // anyway, so a struct built from literals appends under a
            // recorded struct built from columns
            val priorTypes = prior.fields.map(f => f.name -> f.dataType).toMap
            val drift = schema.fields.filter(f => priorTypes.get(f.name)
              .exists(!DataType.equalsIgnoreNullability(_, f.dataType)))
            require(drift.isEmpty,
              s"append to $dir changes existing column type(s): " +
                drift.map(f =>
                  s"${f.name} ${priorTypes(f.name).simpleString} -> " +
                    f.dataType.simpleString).mkString(", ") +
                " — cast the input to the table's types (evolution is " +
                "add-nullable-columns-only)")
            val have = prior.fieldNames.toSet
            StructType(prior.fields ++
              schema.fields.filterNot(f => have(f.name)))
          }
        if (next == prior) Seq.empty else Seq(Schema(next.json))
    }
  }

  /** The recorded table schema at `asOf`, when the log carries one. */
  def tableSchema(dir: String,
      asOf: Option[Int] = None): Option[org.apache.spark.sql.types.StructType] =
    if (currentVersion(dir) < 0) None
    else state(dir, asOf).schemaJson.map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  def create(df: DataFrame, dir: String): Int =
    claimVersion(dir, 0, stage(df, dir).map(Add(_)) ++ schemaLine(df, dir))

  /** IN-PLACE conversion of an existing plain-parquet directory into a
    * txlog table (Delta's `CONVERT TO DELTA`): version 0 REFERENCES
    * the directory's parquet files verbatim — zero bytes rewritten,
    * zero bytes copied, which is the only adoption path that works at
    * 100 TB. The committed schema is the files' merged schema; stats
    * markers for `statsCols` are computed in one distributed pass so
    * the converted table prunes from day one. FLAT layouts only: a
    * Hive-partitioned tree stores partition values in paths, not in
    * the files, and this engine keeps real columns in the data
    * (Iceberg's choice) — converting one would silently drop those
    * columns, so it refuses with the remedy. Crash-safe like every
    * commit: until the version-0 claim lands, the directory is still
    * just parquet. */
  def convert(spark: SparkSession, dir: String,
      statsCols: Seq[String] = Seq.empty): Int = {
    require(currentVersion(dir) < 0, s"$dir is already a txlog table")
    val d = new File(dir)
    require(d.isDirectory, s"$dir is not a directory")
    val entries = Option(d.listFiles()).getOrElse(Array.empty)
    val subdirs = entries.filter(f => f.isDirectory &&
      !f.getName.startsWith("_") && !f.getName.startsWith("."))
    require(subdirs.isEmpty,
      s"CONVERT supports flat parquet directories only; $dir holds " +
        s"subdirectories (${subdirs.take(3).map(_.getName).mkString(", ")})" +
        " — a Hive-partitioned layout keeps partition values in paths, " +
        "not in the files; read it with spark.read.parquet and write a " +
        "new table instead")
    val files = entries.filter(f => f.isFile &&
        f.getName.endsWith(".parquet") && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
      .map(_.getName).sorted.toSeq
    require(files.nonEmpty, s"$dir holds no parquet files to convert")
    val schema = spark.read.option("mergeSchema", "true")
      .parquet(files.map(f => s"$dir/$f"): _*).schema
    val adds = enrichLines(spark, dir, files.map(Add(_)), statsCols)
    claimVersion(dir, 0, adds ++ schemaLineOf(schema, dir) ++
      (if (statsCols.isEmpty) Seq.empty
       else Seq(Property(StatsColsProp, encodeCols(statsCols)))))
  }

  /** Source files already ingested by [[copyInto]] — canonical paths. */
  def copiedSources(dir: String): Set[String] =
    if (currentVersion(dir) < 0) Set.empty
    else state(dir, None).copied.toSet

  /** IDEMPOTENT FILE LOADING (Delta's `COPY INTO`): ingest the parquet
    * files under `src` that this table has NOT loaded yet — each commit
    * records the ingested files' canonical paths as `copysrc` ledger
    * lines, so re-running the same statement after a crash, a retry,
    * or on a schedule loads each file EXACTLY ONCE while new files
    * appearing in the directory keep flowing in. The load itself is a
    * normal append (constraint-checked, partition-pure on a declared
    * layout, declared-stats markers), so COPY INTO composes with every
    * other table feature. Returns (version, files loaded, rows loaded);
    * (current, 0, 0) when nothing is new. */
  def copyInto(spark: SparkSession, dir: String, src: String)
      : (Int, Int, Long) = {
    val cur = currentVersion(dir)
    require(cur >= 0, s"$dir is not a TxLog table")
    val d = new File(src)
    require(d.isDirectory, s"COPY INTO source $src is not a directory")
    val all = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .sortBy(_.getName)
    val seen = state(dir, Some(cur)).copied.toSet
    val fresh = all.map(_.getCanonicalPath).filterNot(seen).toSeq
    if (fresh.isEmpty) return (cur, 0, 0L)
    val df = spark.read.option("mergeSchema", "true")
      .parquet(fresh: _*)
    val (staged, lines) = stageLinesEnforced(spark, df, dir)
    try {
      // footer-grain count of the staged copy — the rows this load adds
      val rows =
        if (staged.isEmpty) 0L
        else spark.read.parquet(staged.map(f => s"$dir/$f"): _*).count()
      val v = claimVersion(dir, cur + 1,
        lines ++ fresh.map(CopySrc) ++ schemaLine(df, dir))
      (v, fresh.size, rows)
    } catch { case e: Throwable =>
      staged.foreach(f => Files.deleteIfExists(Paths.get(dir, f)))
      throw e
    }
  }

  /** CREATE an EMPTY table (the catalog's `CREATE TABLE` surface):
    * version 0 carries only the schema line — no data files — and the
    * recorded in-log schema serves reads until data lands (the same
    * mechanism that keeps an emptied-then-vacuumed table readable).
    * `properties` (TBLPROPERTIES) land as metadata lines, carried
    * through checkpoints like constraints. */
  def createEmpty(dir: String,
      schema: org.apache.spark.sql.types.StructType,
      properties: Map[String, String] = Map.empty): Int = {
    require(currentVersion(dir) < 0, s"$dir already has a version 0")
    claimVersion(dir, 0, Schema(schema.json) +:
      properties.toSeq.map { case (k, v) => Property(k, v) })
  }

  /** Current TBLPROPERTIES (log metadata). */
  def tableProperties(dir: String,
      asOf: Option[Int] = None): Map[String, String] =
    if (currentVersion(dir) < 0) Map.empty
    else state(dir, asOf).props.toMap

  /** `ALTER TABLE ... SET/UNSET TBLPROPERTIES` — one metadata-only
    * commit; empty inputs no-op without burning a version. */
  def alterProperties(dir: String, set: Map[String, String],
      unset: Seq[String] = Seq.empty): Int =
    alterMetadata(dir, set, unset, None)

  /** One ALTER statement = ONE metadata commit: property sets/unsets
    * and a widened schema land atomically — two separate commits would
    * let a failure (or lost claim race) between them leave a
    * half-applied statement with no rollback (review r12 #5). Empty
    * inputs no-op without burning a version. */
  def alterMetadata(dir: String, set: Map[String, String] = Map.empty,
      unset: Seq[String] = Seq.empty,
      newSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Int = {
    val cur = currentVersion(dir)
    require(cur >= 0, s"$dir is not a TxLog table")
    (set.keys ++ unset).foreach(k => require(
      k != ColumnMappingProp && k != RetiredColsProp,
      s"$k is engine-managed (RENAME/DROP COLUMN maintain it) and " +
        "cannot be set or unset directly"))
    var mapLines = Seq.empty[LogAction]
    newSchema.foreach { next =>
      tableSchema(dir).foreach { prior =>
        prior.fields.foreach { f =>
          require(next.fields.contains(f),
            s"schema evolution is widen-only: field '${f.name}' of the " +
              "current schema is missing or changed in the new one")
        }
        // every ADDED field must be nullable: pre-evolution files
        // null-backfill it, so a non-null added column would read NULLs
        // the schema forbids (ADVICE r12 — the catalog's alterTable
        // already guards this; direct library calls must too)
        val have = prior.fieldNames.toSet
        val added = next.fields.filterNot(f => have(f.name))
        added.foreach(f =>
          require(f.nullable,
            s"added column '${f.name}' must be nullable: existing rows " +
              "null-backfill it"))
        // an added column whose name collides with RETIRED or MAPPED
        // physical storage must bind to a FRESH physical name — binding
        // it to the colliding one would resurrect a dropped column's
        // bytes (or alias a renamed column's) from pre-existing files
        val cm = columnMapping(dir)
        if (cm.active && added.nonEmpty) {
          val used = scala.collection.mutable.Set.empty[String]
          used ++= cm.retired ++= cm.toPhys.values ++=
            prior.fieldNames.map(cm.phys)
          var m2 = cm.toPhys
          added.foreach { f =>
            if (used(f.name)) {
              var i = 1
              while (used(s"${f.name}__r$i")) i += 1
              m2 += f.name -> s"${f.name}__r$i"
              used += s"${f.name}__r$i": Unit
            } else used += f.name: Unit
          }
          if (m2 != cm.toPhys) mapLines = mappingLines(m2, cm.retired)
        }
      }
    }
    val lines = set.toSeq.map { case (k, v) => Property(k, v) } ++
      unset.map(Unproperty) ++ mapLines ++ newSchema.map(s => Schema(s.json))
    if (lines.isEmpty) return cur
    claimVersion(dir, cur + 1, lines)
  }

  /** SCHEMA EVOLUTION as its own commit (`ALTER TABLE ... ADD COLUMN`
    * — Delta's metadata-only action): version `cur+1` carries ONLY the
    * widened schema line; no data moves. Reads null-backfill columns no
    * live file carries, so the new column is immediately queryable.
    * Widen-only: every existing field must survive unchanged — dropping
    * or retyping a column under live files would make them unreadable
    * (that path is `replace`, which swaps the data too). */
  def evolveSchema(dir: String,
      next: org.apache.spark.sql.types.StructType): Int =
    alterMetadata(dir, newSchema = Some(next))

  /** APPEND: new files only, nothing removed — lost claim races RETRY
    * ([[claimAppendRetrying]]: blind appends commute). A table with
    * DECLARED partition columns ([[PartitionColsProp]]) routes through
    * the partition-pure staging automatically — the layout is table
    * metadata every writer inherits, not a per-write convention. */
  def append(df: DataFrame, dir: String): Int = {
    val declared = partitionColumns(dir)
    if (declared.nonEmpty)
      return appendPartitioned(df.sparkSession, df, dir, declared)
    val staged = stageEnforced(df, dir)
    // declared-stats markers are content properties of the staged
    // files — computed once, reused across claim-retry attempts
    val lines = withDeclaredStats(df.sparkSession, dir, staged.map(Add(_)))
    claimAppendRetrying(df.sparkSession, dir, staged,
      () => lines ++ schemaLine(df, dir))
  }

  /** REPLACE (SaveMode.Overwrite through the connector): one atomic
    * commit swaps the whole live set for `df`'s files — the previous
    * state stays a time-travelable version until vacuumed (a versioned
    * INSERT OVERWRITE, not a destructive rewrite). Creates the table
    * when it doesn't exist yet. */
  def replace(df: DataFrame, dir: String): Int = {
    val declared = partitionColumns(dir)
    if (declared.nonEmpty)
      return replacePartitioned(df.sparkSession, df, dir, declared)
    val cur = currentVersion(dir)
    if (cur < 0) create(df, dir)
    else {
      val removes = snapshot(dir, Some(cur))
      claimVersion(dir, cur + 1,
        removes.map(Remove) ++
          withDeclaredStats(df.sparkSession, dir,
            stageEnforced(df, dir).map(Add(_))) ++
          schemaLine(df, dir, exact = true))
    }
  }

  /** APPEND gated by a CHECK constraint (the Delta table-constraint
    * shape): if any incoming row violates `constraint`, NOTHING
    * commits — the violating batch is rejected atomically (staged
    * files stay unreferenced orphans, exactly the crash case vacuum
    * ignores and TxLogSpec proves invisible). The check runs on the
    * batch BEFORE staging is referenced, one aggregate pass. */
  def appendChecked(df: DataFrame, dir: String,
      constraint: org.apache.spark.sql.Column): Int = {
    // stage-first like every writer: the frame executes once, the
    // check runs on the deterministic staged re-read; a declared-
    // partitioned table's batch stages partition-pure with markers
    val (staged, lines) = stageLinesEnforced(df.sparkSession, df, dir)
    if (staged.nonEmpty) {
      val stagedDf = logicalizeStaged(
        // staged files come from ONE write — identical schemas, no
        // footer-merge job needed
        df.sparkSession.read
          .parquet(staged.map(f => s"$dir/$f"): _*), dir)
      val bad = stagedDf.filter(!constraint || constraint.isNull)
        .limit(1).count()
      if (bad > 0) {
        staged.foreach(f => Files.deleteIfExists(Paths.get(dir, f)))
        throw new IllegalArgumentException(
          s"CHECK constraint violated by the incoming batch: $constraint")
      }
    }
    claimAppendRetrying(df.sparkSession, dir, staged,
      () => lines ++ schemaLine(df, dir))
  }

  /** LOG-RESIDENT CHECK constraints (Delta's `ALTER TABLE ... ADD
    * CONSTRAINT`): the constraint is table METADATA — a
    * `constraint\t<name>\t<sql>` log line, carried through checkpoints
    * — and every subsequent data writer ([[append]],
    * [[appendWithStats]], [[appendPartitioned]], [[appendIdempotent]],
    * [[replace]], [[upsert]]'s source, and therefore the connector's
    * batch writer and streaming sink) validates its batch against ALL
    * active constraints before anything commits; a violating batch is
    * rejected atomically (staged orphans only — the crash shape vacuum
    * ignores). Adding a constraint first validates the EXISTING rows
    * (one distributed scan), so an active constraint is a true table
    * invariant, not a forward-only hope. NULL evaluations violate
    * (SQL `CHECK` treats UNKNOWN as pass; rejecting UNKNOWN is the
    * stricter Delta invariant choice and the one a data-quality gate
    * wants). The batch check costs one aggregate pass here; a
    * production writer folds it into the write projection (Delta's
    * CheckInvariant expression throws from inside codegen). */
  def addConstraint(spark: SparkSession, dir: String,
      name: String, constraintSql: String): Int = {
    import org.apache.spark.sql.functions.expr
    val cur = currentVersion(dir)
    require(cur >= 0, s"$dir is not a TxLog table")
    require(!state(dir, None).cons.contains(name),
      s"constraint '$name' already exists")
    val c = expr(constraintSql)
    if (snapshot(dir).nonEmpty) {
      val bad = read(spark, dir).filter(!c || c.isNull).limit(1).count()
      if (bad > 0) throw new IllegalArgumentException(
        s"cannot add CHECK constraint '$name' ($constraintSql): " +
          "existing rows violate it")
    }
    claimVersion(dir, cur + 1, Seq(Constraint(name, constraintSql)))
  }

  /** Drop an active constraint (a metadata-only commit). */
  def dropConstraint(dir: String, name: String): Int = {
    val cur = currentVersion(dir)
    require(state(dir, None).cons.contains(name),
      s"no active constraint '$name'")
    claimVersion(dir, cur + 1, Seq(Unconstraint(name)))
  }

  /** Active CHECK constraints at `asOf` (default latest). */
  def constraints(dir: String, asOf: Option[Int] = None): Map[String, String] =
    if (currentVersion(dir) < 0) Map.empty
    else state(dir, asOf).cons.toMap

  /** Stage `df`, then validate the STAGED parquet against the table's
    * active constraints — the incoming frame executes exactly ONCE
    * (ADVICE r10: the old validate-then-stage order ran the frame
    * twice, so a nondeterministic source could pass validation yet
    * stage different, violating rows, and through the streaming sink a
    * stateful plan executed twice per batch). One aggregate pass over
    * the staged files for ALL constraints (disjunction of violations);
    * on violation the staged files are deleted and the batch rejected
    * — nothing was committed, nothing re-runs. */
  private def stageEnforced(df: DataFrame, dir: String): Seq[String] = {
    val staged = stage(df, dir)
    validateStaged(df.sparkSession, dir, staged)
    staged
  }

  /** Reject (delete + throw) `staged` files holding any row violating
    * an active constraint — a deterministic re-read of exactly what
    * would commit. */
  private def validateStaged(spark: SparkSession, dir: String,
      staged: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.expr
    if (currentVersion(dir) < 0 || staged.isEmpty) return
    val cs = state(dir, None).cons
    if (cs.isEmpty) return
    val violated = cs.values.map { sql =>
      val c = expr(sql); !c || c.isNull
    }.reduce(_ || _)
    // constraint texts bind LOGICAL names; staged files store physical
    // staged files come from ONE write — identical schemas
    val bad = logicalizeStaged(spark.read
        .parquet(staged.map(f => s"$dir/$f"): _*), dir)
      .filter(violated).limit(1).count() > 0
    if (bad) {
      staged.foreach(f => Files.deleteIfExists(Paths.get(dir, f)))
      throw new IllegalArgumentException(
        s"CHECK constraint violated by the incoming batch " +
          s"(active constraints: ${cs.keys.mkString(", ")})")
    }
  }

  /** PARTITIONED APPEND (Delta's `partitionValues`, Iceberg's identity
    * partitioning): stage `df` so every staged file is partition-value
    * PURE, and record each file's partition values as `p:<col>=<value>`
    * markers on its add line — pure log metadata that lets
    * [[prunePartitions]]/[[readWhere]] prune by partition predicate
    * from the log ALONE, before any parquet footer IO.
    *
    * Physical staging uses Spark's dynamic-partition writers (the same
    * machinery as `partitionBy`) via SHADOW copies of the partition
    * columns, so the REAL columns stay in the data files (Iceberg's
    * choice — reads stay plain scans, no value re-attachment) while the
    * shadow copies become the directory layout the values are recovered
    * from. One distributed write; no per-partition driver loop. */
  def appendPartitioned(spark: SparkSession, df: DataFrame, dir: String,
      partCols: Seq[String]): Int = {
    val (names, adds0) = stagePartitioned(spark, df, dir, partCols)
    val adds = withDeclaredStats(spark, dir, adds0)
    claimAppendRetrying(spark, dir, names,
      () => adds ++ schemaLine(df, dir))
  }

  /** The reserved table property carrying DECLARATIVE partition columns
    * (`CREATE TABLE ... PARTITIONED BY` — VERDICT r12 #1): once set,
    * EVERY writer inherits the layout ([[append]]/[[replace]]/the
    * connector sinks route through the partitioned staging), and every
    * catalog scan prunes on the recorded `p:` markers before zone maps.
    * Stored as escaped names joined by commas; carried through
    * checkpoints and clones like any property. */
  val PartitionColsProp: String = "graft.partition.columns"

  /** The table's DECLARED partition columns (empty when unpartitioned
    * or the table does not exist yet). */
  def partitionColumns(dir: String): Seq[String] =
    if (currentVersion(dir) < 0) Seq.empty
    else tableProperties(dir).get(PartitionColsProp).toSeq
      .flatMap(_.split(',')).filter(_.nonEmpty).map(unescapeVal)

  private[graft] def encodeCols(cols: Seq[String]): String =
    cols.map(escapeVal).mkString(",")

  /** The reserved table property carrying DECLARATIVE data-skipping
    * columns (Delta's `delta.dataSkippingStatsColumns`): once set,
    * EVERY writer — batch appends, SQL INSERT, DML rewrites, MERGE,
    * streaming epochs, OPTIMIZE — records per-file min/max zone-map
    * markers for these columns on its add lines, and every catalog
    * scan prunes on them ([[pruneSnapshot]] / the connector's
    * FileIndex). Same design as [[PartitionColsProp]]: data skipping
    * is TABLE metadata every writer inherits, not a convention each
    * caller must remember — at 100 TB, a writer that forgets stats
    * silently grows the unprunable set forever. Cost: one extra
    * distributed aggregate over each staged batch (file-grain bounds
    * only reach the driver) — opt-in via the property. */
  val StatsColsProp: String = "graft.stats.columns"

  /** The table's DECLARED data-skipping columns (empty when unset or
    * the table does not exist yet). */
  def statsColumns(dir: String): Seq[String] =
    if (currentVersion(dir) < 0) Seq.empty
    else tableProperties(dir).get(StatsColsProp).toSeq
      .flatMap(_.split(',')).filter(_.nonEmpty).map(unescapeVal)

  /** Enrich finished add lines with zone-map markers for the table's
    * DECLARED stats columns — the single seam every line-producing
    * writer funnels through. Columns absent from the staged schema are
    * skipped (a narrow pre-evolution batch stays writable); statless
    * files remain the conservative always-kept shape. */
  private def withDeclaredStats(spark: SparkSession, dir: String,
      adds: Seq[Add]): Seq[Add] =
    enrichLines(spark, dir, adds, statsColumns(dir))

  /** The explicit-columns form — for the CTAS/RTAS staging leg, where
    * the stats columns come from the NEW definition's properties (not
    * yet committed to the log this writer stages into). */
  private[graft] def enrichLines(spark: SparkSession, dir: String,
      adds: Seq[Add], cols: Seq[String]): Seq[Add] = {
    if (cols.isEmpty || adds.isEmpty) return adds
    val markers = statMarkersFor(spark, dir, adds.map(_.file), cols)
    adds.map(a => a.copy(fields = a.fields ++
      markers.getOrElse(new File(a.file).getName, Seq.empty)))
  }

  /** Decode a comma-joined escaped column list (the encoding of
    * [[PartitionColsProp]] / [[StatsColsProp]] values). */
  private[graft] def decodeCols(v: String): Seq[String] =
    v.split(',').toSeq.filter(_.nonEmpty).map(unescapeVal)

  /** COLUMN MAPPING (Delta's `columnMapping` name mode): the reserved
    * property carrying `logical=physical` pairs for columns whose
    * in-file storage name differs from the schema name — what makes
    * `ALTER TABLE ... RENAME COLUMN` a METADATA-ONLY commit instead of
    * a 100 TB rewrite. Identity columns are omitted; an absent/empty
    * property means every column stores under its own name (all
    * pre-mapping tables). */
  val ColumnMappingProp: String = "graft.column.mapping"

  /** The physical storage names of DROPPED columns — still present in
    * old files, never surfaced by reads, and never reusable by a later
    * ADD COLUMN (re-binding a new logical column to a retired physical
    * name would resurrect the dropped column's values). */
  val RetiredColsProp: String = "graft.column.retired"

  /** Parsed column-mapping state: logical→physical plus the retired
    * physical set. `active` gates every read/write seam — inactive
    * tables (the overwhelmingly common case) pay nothing. */
  final case class ColMap(toPhys: Map[String, String],
      retired: Set[String]) {
    def active: Boolean = toPhys.nonEmpty || retired.nonEmpty
    def phys(c: String): String = toPhys.getOrElse(c, c)
  }

  def columnMapping(dir: String, asOf: Option[Int] = None): ColMap =
    if (currentVersion(dir) < 0) ColMap(Map.empty, Set.empty)
    else {
      val props = tableProperties(dir, asOf)
      ColMap(
        props.get(ColumnMappingProp).toSeq.flatMap(_.split(','))
          .filter(_.nonEmpty).map { kv =>
            val i = kv.indexOf('=')
            unescapeVal(kv.substring(0, i)) -> unescapeVal(kv.substring(i + 1))
          }.toMap,
        props.get(RetiredColsProp).toSeq.flatMap(_.split(','))
          .filter(_.nonEmpty).map(unescapeVal).toSet)
    }

  /** The property/unproperty lines recording a mapping transition —
    * emitted inside the SAME commit as the schema change they belong
    * to (a rename whose mapping landed in a different version than its
    * schema would have a torn window). */
  private def mappingLines(m: Map[String, String],
      retired: Set[String]): Seq[LogAction] = Seq(
    if (m.isEmpty) Unproperty(ColumnMappingProp)
    else Property(ColumnMappingProp, m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${escapeVal(k)}=${escapeVal(v)}" }
      .mkString(",")),
    if (retired.isEmpty) Unproperty(RetiredColsProp)
    else Property(RetiredColsProp, encodeCols(retired.toSeq.sorted)))

  /** The `feature` declaration line for `name`, or nothing when the
    * table already declares it (features are monotone — once declared,
    * every reader must implement it forever). */
  private def featureLine(dir: String, name: String): Seq[LogAction] =
    if (state(dir, None).features.contains(name)) Seq.empty
    else Seq(Feature(name))

  /** REQUIRED reader features declared by the table. */
  def tableFeatures(dir: String): Set[String] =
    if (currentVersion(dir) < 0) Set.empty
    else state(dir, None).features.toSet

  /** Columns whose NAME is load-bearing metadata cannot be renamed or
    * dropped: partition columns (their `p:` markers and declared
    * layout key on them), declared stats columns (zone-map recording
    * selects by name), and any column a CHECK constraint's SQL text
    * references (the text would silently stop binding). The remedy is
    * always to change that declaration first. */
  private def guardMappable(dir: String, col: String, verb: String): Unit = {
    require(!partitionColumns(dir).contains(col),
      s"cannot $verb '$col': it is a declared partition column")
    require(!statsColumns(dir).contains(col),
      s"cannot $verb '$col': it is a declared data-skipping column — " +
        s"ALTER ... SET TBLPROPERTIES('$StatsColsProp') without it first")
    val pat = java.util.regex.Pattern.compile(
      "(?i)(?<![\\w`])" + java.util.regex.Pattern.quote(col) + "(?![\\w`])")
    val refs = constraints(dir).collect {
      case (n, sql) if pat.matcher(sql).find() => n }
    require(refs.isEmpty,
      s"cannot $verb '$col': referenced by CHECK constraint(s) " +
        refs.mkString(", "))
  }

  /** `ALTER TABLE ... RENAME COLUMN from TO to` — ONE metadata commit:
    * the schema renames the field and the mapping binds the new
    * logical name to the column's unchanged PHYSICAL storage name, so
    * zero data bytes move at any table size. Renaming back to the
    * physical name collapses the mapping entry (a→b→a is identity
    * again). Old files keep pruning conservatively on markers recorded
    * under the old name until an OPTIMIZE re-records them. */
  def renameColumn(dir: String, from: String, to: String): Int = {
    val cur = currentVersion(dir)
    require(cur >= 0, s"$dir is not a TxLog table")
    val schema = tableSchema(dir).getOrElse(
      throw new UnsupportedOperationException(
        s"RENAME COLUMN needs a recorded in-log schema on $dir — " +
          "legacy tables record one on their next write"))
    require(schema.fieldNames.contains(from), s"no such column: '$from'")
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"column '$to' already exists")
    require(!to.contains('=') && !to.contains(','),
      "a mapped column name cannot contain '=' or ','")
    guardMappable(dir, from, "rename")
    val cm = columnMapping(dir)
    val phys = cm.phys(from)
    val m2 = (cm.toPhys - from) ++
      (if (phys == to) Map.empty[String, String] else Map(to -> phys))
    val next = org.apache.spark.sql.types.StructType(schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    claimVersion(dir, cur + 1,
      featureLine(dir, "column-mapping") ++ mappingLines(m2, cm.retired) :+
        Schema(next.json))
  }

  /** `ALTER TABLE ... DROP COLUMN c` — ONE metadata commit: the schema
    * drops the field and the column's physical storage name RETIRES
    * (old files still carry the bytes until rewritten/vacuumed; reads
    * project them away; a later ADD COLUMN of the same name binds to a
    * FRESH physical name so the dropped values can never resurrect).
    * Delta's drop-column semantics — the 100 TB alternative to a
    * full-table rewrite. */
  def dropColumn(dir: String, name: String): Int = {
    val cur = currentVersion(dir)
    require(cur >= 0, s"$dir is not a TxLog table")
    val schema = tableSchema(dir).getOrElse(
      throw new UnsupportedOperationException(
        s"DROP COLUMN needs a recorded in-log schema on $dir — " +
          "legacy tables record one on their next write"))
    require(schema.fieldNames.contains(name), s"no such column: '$name'")
    require(schema.fields.length > 1, "cannot drop the only column")
    guardMappable(dir, name, "drop")
    val cm = columnMapping(dir)
    val next = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name == name))
    claimVersion(dir, cur + 1,
      featureLine(dir, "column-mapping") ++
        mappingLines(cm.toPhys - name, cm.retired + cm.phys(name)) :+
        Schema(next.json))
  }

  /** LOGICAL → PHYSICAL rename of an outgoing frame — the single seam
    * every staging writer passes through on a mapped table. Refuses a
    * NEW column (not in the recorded schema) whose name collides with
    * retired/mapped physical storage: committing it would alias a
    * dead column's bytes (the remedy is ALTER TABLE ADD COLUMN, which
    * allocates a fresh physical name). */
  private def toPhysicalDf(df: DataFrame, dir: String): DataFrame = {
    val cm = columnMapping(dir)
    if (!cm.active) return df
    import org.apache.spark.sql.functions.col
    val logical = tableSchema(dir).map(_.fieldNames.toSet)
      .getOrElse(Set.empty)
    val taken = cm.retired ++ cm.toPhys.values
    df.columns.filterNot(logical).find(taken) match {
      case Some(c) => throw new IllegalArgumentException(
        s"new column '$c' collides with a renamed or dropped column's " +
          "physical storage name — ALTER TABLE ADD COLUMN first (it " +
          "allocates a fresh physical name)")
      case None => ()
    }
    df.select(df.columns.map(c => col(c).as(cm.phys(c))).toIndexedSeq: _*)
  }

  /** PHYSICAL → LOGICAL projection of a frame read from data files:
    * mapped columns re-surface under their schema names, retired
    * (dropped) columns vanish, and logical columns no file carries
    * null-backfill — the read-side half of column mapping, applied by
    * [[readFiles]] so every consumer (scans, DML probes, time travel)
    * sees only logical names. `keep` preserves row-identity helper
    * columns ([[readLiveFilesKeyed]]'s `__f`/`__p`). */
  private def projectToLogical(df: DataFrame, dir: String,
      asOf: Option[Int], keep: Seq[String] = Seq.empty): DataFrame = {
    val cm = columnMapping(dir, asOf)
    import org.apache.spark.sql.functions.{col, lit}
    val logical = tableSchema(dir, asOf).getOrElse(return df)
    val have = df.columns.toSet
    // mapping-inactive fast path — but ONLY when every logical column is
    // physically present: a schema evolved by ADD COLUMN with no
    // subsequent append has a recorded column that NO live file carries,
    // which mergeSchema cannot surface and must be null-backfilled here
    // (the catalog's buildScan already does; the path read didn't —
    // found by the column-mapping ScalaCheck property, seed
    // Zv_ZXp74ByRSzbWUrxkk-KO-vuBnjEMQKb9rSMD9DTI=, ops [AddCol(d)])
    if (!cm.active && logical.fieldNames.forall(have)) return df
    df.select((logical.fields.toSeq.map { f =>
      val p = cm.phys(f.name)
      if (have(p)) col(p).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    } ++ keep.map(col)): _*)
  }

  /** PHYSICAL → LOGICAL alias-only rename for a re-read of freshly
    * STAGED files (they hold exactly the written columns — no retired
    * ghosts to project away, no missing columns to backfill). */
  private def logicalizeStaged(df: DataFrame, dir: String): DataFrame = {
    val cm = columnMapping(dir)
    if (cm.toPhys.isEmpty) return df
    import org.apache.spark.sql.functions.col
    val rev = cm.toPhys.map(_.swap)
    df.select(df.columns.map(c =>
      col(c).as(rev.getOrElse(c, c))).toIndexedSeq: _*)
  }

  /** REPLACE the whole live set with `df` staged PARTITION-PURE — the
    * overwrite path of a declaratively partitioned table (one atomic
    * commit, old state stays time-travelable, new files carry `p:`
    * markers). Creates the table when absent. */
  def replacePartitioned(spark: SparkSession, df: DataFrame, dir: String,
      partCols: Seq[String]): Int = {
    val cur = currentVersion(dir)
    val (_, adds0) = stagePartitioned(spark, df, dir, partCols)
    val adds = withDeclaredStats(spark, dir, adds0)
    if (cur < 0) claimVersion(dir, 0, adds ++ schemaLine(df, dir))
    else claimVersion(dir, cur + 1,
      snapshot(dir, Some(cur)).map(Remove) ++ adds ++
        schemaLine(df, dir, exact = true))
  }

  /** `INSERT OVERWRITE ... WHERE`-scoped replace (Delta's
    * `replaceWhere`): ONE atomic commit that deletes the rows matching
    * `pred` and inserts `data` — and REFUSES a batch holding any row
    * OUTSIDE the predicate (the contract that makes an idempotent
    * partition reload safe to retry: re-running it can never leak rows
    * into partitions it does not own). The delete leg is the same
    * metadata-first machinery as [[deleteWhere]]: provably-covered
    * files drop with zero read, pruned files never scan — a
    * partition-aligned `INSERT OVERWRITE t PARTITION (day = X)` on a
    * 100 TB table reads nothing but X's survivors (none). */
  def replaceWhere(spark: SparkSession, dir: String, data: DataFrame,
      pred: org.apache.spark.sql.Column): Int = {
    val cur = currentVersion(dir)
    require(cur >= 0, s"$dir is not a TxLog table")
    val st = state(dir, Some(cur))
    val (dataStaged, dataLines) = stageLinesEnforced(spark, data, dir)
    try {
      if (dataStaged.nonEmpty) {
        val stagedDf = logicalizeStaged(
          // staged files come from ONE write — identical schemas
          spark.read
            .parquet(dataStaged.map(f => s"$dir/$f"): _*), dir)
        val bad = stagedDf.filter(!pred || pred.isNull).limit(1).count()
        if (bad > 0) throw new IllegalArgumentException(
          s"replaceWhere: the incoming batch holds rows outside the " +
            s"overwritten predicate $pred")
      }
      val (proven, candidates) = classifyByPredicate(st, pred)
      val affected = affectedFiles(spark, dir, candidates,
        df => df.filter(pred))
      val keepLines =
        if (affected.isEmpty) Seq.empty[Add]
        else {
          val keep = readFiles(spark, dir, affected,
              dvFrameFrom(spark, dir, st.dv.toMap))
            .filter(!pred || pred.isNull)
          if (keep.isEmpty) Seq.empty[Add]
          else stageLinesEnforced(spark, keep, dir)._2
        }
      claimVersion(dir, cur + 1,
        (proven ++ affected).map(Remove) ++
          keepLines ++ dataLines ++ schemaLine(data, dir))
    } catch { case e: Throwable =>
      // a refused batch (or lost claim race) leaves no orphans behind
      dataStaged.foreach(f => Files.deleteIfExists(Paths.get(dir, f)))
      throw e
    }
  }

  /** DYNAMIC partition overwrite (`partitionOverwriteMode=dynamic`):
    * replace exactly the partitions PRESENT in `data`, leave every
    * other partition untouched — one atomic commit. The victim set
    * comes from log metadata alone (staged markers ∩ recorded
    * markers); a live file with NO recorded partition values makes the
    * victim set undecidable, so the write refuses and names the
    * remedy (OPTIMIZE re-layouts, recording markers). NULL and ""
    * partition values share Spark's directory sentinel and therefore
    * overwrite as ONE partition — the engine inherits that conflation
    * from the dynamic-partition rendering itself. */
  def replaceDynamicPartitions(spark: SparkSession, data: DataFrame,
      dir: String): Int = {
    val partCols = partitionColumns(dir)
    require(partCols.nonEmpty,
      "dynamic partition overwrite needs a declared-partitioned table " +
        s"(CREATE TABLE ... PARTITIONED BY): $dir declares none")
    val cur = currentVersion(dir)
    val pv = partitionValues(dir, Some(cur))
    val live = snapshot(dir, Some(cur))
    val unmarked = live.filterNot(f =>
      partCols.forall(c => pv.getOrElse(f, Map.empty).contains(c)))
    require(unmarked.isEmpty,
      s"dynamic partition overwrite is undecidable: ${unmarked.size} " +
        "live files carry no partition markers (written before the " +
        "layout was declared) — run OPTIMIZE first to re-layout them")
    val (staged, lines0) = stagePartitioned(spark, data, dir, partCols)
    val lines = withDeclaredStats(spark, dir, lines0)
    try {
      def tuple(m: Map[String, String]): Seq[String] =
        partCols.map(c => m.getOrElse(c, ""))
      val incoming: Set[Seq[String]] =
        lines.map(a => tuple(a.partitionValues)).toSet
      val victims = live.filter(f => incoming.contains(tuple(pv(f))))
      claimVersion(dir, cur + 1,
        victims.map(Remove) ++ lines ++
          schemaLine(data, dir))
    } catch { case e: Throwable =>
      staged.foreach(f => Files.deleteIfExists(Paths.get(dir, f)))
      throw e
    }
  }

  /** Staging for the catalog's ATOMIC CREATE/REPLACE TABLE (the
    * StagedTable write leg): partition-pure when the new definition
    * declares partition columns; returns (names, finished add lines).
    * NOT constraint-checked — a REPLACE installs a whole new
    * definition, and the old table's constraints die with it in
    * [[commitDefinition]]. */
  private[graft] def stageForDefinition(spark: SparkSession, df: DataFrame,
      dir: String, partCols: Seq[String],
      statsCols: Seq[String] = Seq.empty): (Seq[String], Seq[Add]) = {
    // the OLD table's column mapping must NOT apply: this data is the
    // NEW definition's, and commitDefinition clears the mapping in the
    // same commit that references these files
    val (names, lines) =
      if (partCols.isEmpty) {
        val n = stage(df, dir, useMapping = false)
        (n, n.map(Add(_)))
      } else stagePartitioned(spark, df, dir, partCols,
        checkConstraints = false, useMapping = false)
    (names, enrichLines(spark, dir, lines, statsCols))
  }

  /** ONE atomic commit installing a whole table DEFINITION —
    * `CREATE [OR REPLACE] TABLE [AS SELECT]` through the catalog's
    * staged-table protocol (VERDICT r12 #3): staged adds + the exact
    * new schema + the new properties swap in together; on an existing
    * table every old live file removes, old properties unset, old CHECK
    * constraints drop (the definition is NEW — Delta's REPLACE
    * semantics), and HISTORY IS PRESERVED — the old versions stay
    * time-travelable until vacuumed, unlike a drop+recreate.
    * `expectedVersion` pins optimistic concurrency: -1 creates at
    * version 0; otherwise a commit racing in between conflicts. */
  private[graft] def commitDefinition(dir: String, addLines: Seq[Add],
      schema: org.apache.spark.sql.types.StructType,
      props: Map[String, String], expectedVersion: Int): Int = {
    val propLines = props.toSeq.map { case (k, v) => Property(k, v) }
    val schemaL = Schema(schema.json)
    if (expectedVersion < 0)
      claimVersion(dir, 0, addLines ++ propLines :+ schemaL)
    else {
      val st = state(dir, Some(expectedVersion))
      val removes = st.live.keys.toSeq.map(Remove)
      val unprops = st.props.keys.filterNot(props.contains)
        .map(Unproperty).toSeq
      val uncons = st.cons.keys.map(Unconstraint).toSeq
      // the COPY INTO ledger clears with the old definition: a replaced
      // table owes nothing to what the PREVIOUS content ingested
      val uncopies = st.copied.toSeq.map(UncopySrc)
      claimVersion(dir, expectedVersion + 1,
        removes ++ uncons ++ unprops ++ uncopies ++
          addLines ++ propLines :+ schemaL)
    }
  }

  /** Partition-pure staging shared by [[appendPartitioned]] and
    * [[replacePartitioned]]: returns (staged names, finished add lines
    * with `p:` markers). Constraint-checked like every staging path. */
  private def stagePartitioned(spark: SparkSession, df: DataFrame,
      dir: String, partCols: Seq[String],
      checkConstraints: Boolean = true,
      arrange: (DataFrame, Seq[String]) => DataFrame = (d, _) => d,
      useMapping: Boolean = true)
      : (Seq[String], Seq[Add]) = {
    import org.apache.spark.sql.functions.col
    require(partCols.nonEmpty, "partCols must be non-empty")
    new File(dir).mkdirs()
    val tmp = Files.createTempDirectory(Paths.get(dir), ".stagep-")
    val shadows = partCols.map(c => s"__p_$c")
    // physical storage names on a mapped table (partition columns are
    // rename-proof, so the shadow references below still bind)
    val mapped = if (useMapping) toPhysicalDf(df, dir) else df
    val dup = partCols.zip(shadows).foldLeft(mapped) {
      case (d, (c, s)) => d.withColumn(s, col(c).cast("string"))
    }
    // `arrange` lets OPTIMIZE inject its layout (range-partition by
    // shadow values + cluster key, sorted within) BEFORE the dynamic
    // partitionBy writer; a child already sorted on the shadow prefix
    // satisfies the writer's required ordering, so the secondary
    // cluster order survives into the files
    arrange(dup, shadows)
      .write.partitionBy(shadows: _*).mode("overwrite").parquet(tmp.toString)
    // walk the partition directory tree: each leaf parquet file sits
    // under one __p_c=<escaped value> path per partition column (Spark's
    // Hive-compatible `%xx` path escaping, which the log's own
    // unescaping decodes)
    def leaves(d: File, vals: Map[String, String])
        : Seq[(File, Map[String, String])] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
        case f if f.isDirectory && f.getName.contains("=") =>
          val Array(k, v) = f.getName.split("=", 2)
          leaves(f, vals + (k.stripPrefix("__p_") -> unescapeVal(v)))
        case f if f.isFile && f.getName.endsWith(".parquet")
            && !f.getName.startsWith(".") => Seq(f -> vals)
        case _ => Seq.empty
      }
    val found = leaves(tmp.toFile, Map.empty).sortBy(_._1.getPath)
    val named = found.zipWithIndex.map { case ((f, vals), i) =>
      val name = s"part-${java.util.UUID.randomUUID().toString.take(8)}-$i.parquet"
      Files.move(f.toPath, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
      (name, vals)
    }
    drop(tmp.toString) // staging litter (empty partition dirs, _SUCCESS)
    // stage-first constraint check, same one-execution contract as
    // [[stageEnforced]] (the partitionBy writer is its own staging path)
    if (checkConstraints) validateStaged(spark, dir, named.map(_._1))
    val adds = named.map { case (name, vals) =>
      Add(name, partCols.map(c => Part(c, vals.getOrElse(c, ""))))
    }
    (named.map(_._1), adds)
  }

  /** Live files whose partition values match every (col → value) pair
    * in `filter` — plus any file with no recorded value for a filtered
    * column (pruning must be conservative). Pure log metadata: no data
    * or footer IO. Returns (kept, total live). */
  def prunePartitions(dir: String, filter: Map[String, String],
      asOf: Option[Int] = None): (Seq[String], Int) = {
    val live = snapshot(dir, asOf)
    val pv = partitionValues(dir, asOf)
    val kept = live.filter { f =>
      val vals = pv.getOrElse(f, Map.empty)
      // a recorded sentinel (null OR "" — the dynamic-partition writer
      // conflates them) yields no information: conservative keep
      filter.forall { case (c, v) =>
        vals.get(c).filter(_ != MetaSurvive.NullPartition).forall(_ == v) }
    }
    (kept, live.size)
  }

  /** Partition-pruned read: scan ONLY the files whose log-recorded
    * partition values match `filter` (the log-metadata-only file
    * pruning that makes a partition-predicate query O(matching
    * partitions) at any table size), with deletion vectors applied,
    * THEN the equality predicate re-applied row-level — files kept
    * conservatively (no recorded value for a filtered column) cannot
    * leak non-matching rows. An emptied match set reads as an empty
    * frame with the table schema. */
  def readWhere(spark: SparkSession, dir: String,
      filter: Map[String, String], asOf: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val v = asOf.getOrElse(currentVersion(dir))
    val (kept, _) = prunePartitions(dir, filter, Some(v))
    if (kept.isEmpty) return read(spark, dir, Some(v)).limit(0)
    val st = state(dir, Some(v))
    val base = readFiles(spark, dir, kept, dvFrameFrom(spark, dir,
      st.dv.toMap.filter { case (f, _) => kept.contains(f) }), Some(v))
    filter.foldLeft(base) { case (d, (c, value)) =>
      d.filter(col(c).cast("string") === lit(value))
    }
  }

  /** DELETE WHERE `pred`: copy-on-write — every live file holding a
    * matching row is rewritten without its matches; untouched files
    * stay referenced as-is (the Delta DELETE shape). SQL DELETE
    * semantics: only rows where `pred` is TRUE are deleted — rows
    * where it evaluates NULL survive the rewrite (`!pred` alone would
    * silently drop them, diverging from [[deleteWhereDV]]'s
    * `filter(pred)` match set; ADVICE r8). */
  def deleteWhere(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column): Int = {
    val cur = currentVersion(dir)
    val st = state(dir, Some(cur))
    // metadata first: files the predicate provably misses never enter
    // the probe scan; files it provably COVERS drop from the log with
    // no read at all (partition-aligned DELETE is O(metadata))
    val (proven, candidates) = classifyByPredicate(st, pred)
    val affected = affectedFiles(spark, dir, candidates,
      df => df.filter(pred))
    if (affected.isEmpty && proven.isEmpty) return cur
    val adds =
      if (affected.isEmpty) Seq.empty[Add]
      else {
        val keep = readFiles(spark, dir, affected,
            dvFrameFrom(spark, dir, st.dv.toMap))
          .filter(!pred || pred.isNull)
        if (keep.isEmpty) Seq.empty[Add]
        else stageLinesEnforced(spark, keep, dir)._2
      }
    commitLines(dir, cur, adds, proven ++ affected)
  }

  /** UPDATE ... SET ... WHERE: copy-on-write — every live file holding
    * a row where `pred` is TRUE is rewritten with `sets` applied to
    * exactly those rows (NULL/false rows pass through verbatim, SQL
    * UPDATE semantics); untouched files stay referenced as-is. The
    * rewritten batch re-validates against active CHECK constraints —
    * an update can violate them even when the original rows did not. */
  def updateWhere(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column,
      sets: Seq[(String, org.apache.spark.sql.Column)]): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit, when}
    val cur = currentVersion(dir)
    val st = state(dir, Some(cur))
    // validate the SET names BEFORE the probe scan: a typo on a
    // non-matching predicate used to silently no-op through the
    // affected.isEmpty early return (review r11 #7)
    val setMap = sets.toMap
    val tableSchema: org.apache.spark.sql.types.StructType = st.schemaJson
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .getOrElse(read(spark, dir, Some(cur)).schema)
    val tableCols = tableSchema.fieldNames.toSet
    require(setMap.keySet.subsetOf(tableCols),
      s"unknown UPDATE columns: ${setMap.keySet -- tableCols}")
    // metadata pruning narrows the probe; PROVEN-all-match files skip
    // it entirely (every row rewrites — they are affected by
    // definition, an empty file rewriting to nothing is harmless)
    val (proven, candidates) = classifyByPredicate(st, pred)
    val affected = proven ++ affectedFiles(spark, dir, candidates,
      df => df.filter(pred))
    if (affected.isEmpty) return cur
    val src0 = readFiles(spark, dir, affected,
      dvFrameFrom(spark, dir, st.dv.toMap))
    // a SET column the AFFECTED files predate (schema evolved in a
    // later append) must still apply — null-backfill it before the
    // rewrite, else the assignment silently vanishes (review r11 #2.3)
    val src = (setMap.keySet -- src0.columns).foldLeft(src0) { (d, c) =>
      d.withColumn(c, lit(null).cast(tableSchema(c).dataType))
    }
    val fire = coalesce(pred, lit(false))
    val rewritten = src.select(src.columns.toIndexedSeq.map { c =>
      setMap.get(c) match {
        case Some(v) =>
          when(fire, v).otherwise(org.apache.spark.sql.functions.col(c))
            .cast(src.schema(c).dataType).as(c)
        case None => org.apache.spark.sql.functions.col(c)
      }
    }: _*)
    commitLines(dir, cur,
      stageLinesEnforced(spark, rewritten, dir)._2,
      affected)
  }

  /** Affected-file probe for external executors
    * ([[graft.plans.TxLogDml]]'s MERGE): which of `live` hold a row
    * surviving `matcher`? Same one-scan protocol as every internal
    * writer ([[affectedFiles]]); the matcher must preserve the bound
    * `__f` metadata column. */
  private[graft] def affectedFilesProbe(spark: SparkSession, dir: String,
      live: Seq[String])(matcher: DataFrame => DataFrame): Seq[String] =
    affectedFiles(spark, dir, live, matcher)

  /** Read the table at `asOf` (default latest) — explicit file list, so
    * a stale/staged/removed file can never leak into the scan, with
    * that version's deletion vectors applied (merge-on-read). A table
    * legitimately emptied (all files deleted) reads as an EMPTY frame
    * with the schema recovered from the most recently removed file
    * still on disk. */
  /** READ-ISOLATION CAVEAT (ADVICE r11 #2): a batch or versionAsOf
    * read whose range crosses an UNDECIDED multi-table transaction
    * resolves that version to nothing — so the same pinned version can
    * return different rows before vs after the transaction publishes,
    * and a cross-table batch read spanning the publish instant can see
    * table A pre-publish and table B post-publish. This is the
    * documented weakening vs Delta's immutable versions; STREAMING
    * consumers are unaffected (the source never offers past an
    * undecided version — [[versionUndecided]]/decidedThrough), and
    * checkpoint/vacuum refuse outright. Pinned reads that must be
    * reproducible should run after the transaction is decided (publish
    * or [[abortTx]]). */
  def read(spark: SparkSession, dir: String,
      asOf: Option[Int] = None): DataFrame = {
    val v = asOf.getOrElse(currentVersion(dir))
    val st = state(dir, Some(v)) // ONE fold serves file list + vectors
    if (st.live.isEmpty) return emptyRead(spark, dir, v)
    readFiles(spark, dir, st.live.keys.toSeq,
      dvFrameFrom(spark, dir, st.dv.toMap), Some(v))
  }

  /** DV-correct read RESTRICTED to `files` (a subset of the snapshot's
    * live set — zone-map / partition-pruning callers): outstanding
    * deletion vectors still apply per kept file, pruned-away files'
    * vectors are irrelevant by construction (they key on (file, pos)).
    * The connector's catalog scan uses this so log-resident statistics
    * prune file IO through the BY-NAME read path too, not only the
    * path-based one. */
  def readPruned(spark: SparkSession, dir: String, files: Seq[String],
      asOf: Option[Int] = None): DataFrame = {
    val v = asOf.getOrElse(currentVersion(dir))
    val st = state(dir, Some(v))
    val keep = files.toSet
    val live = st.live.keys.toSeq.filter(keep)
    if (live.isEmpty) return emptyRead(spark, dir, v)
    readFiles(spark, dir, live,
      dvFrameFrom(spark, dir,
        st.dv.toMap.filter { case (f, _) => keep(f) }), Some(v))
  }

  /** Empty-snapshot read: recover the schema from the most recently
    * removed file that still exists (pre-vacuum it always does — the
    * remove that emptied the table referenced it). Lazy newest-first
    * walk that SKIPS raw entries truncated below a checkpoint — the
    * remove that emptied the table is by construction at or above the
    * newest checkpoint's version when history was truncated. */
  private def emptyRead(spark: SparkSession, dir: String, v: Int): DataFrame = {
    // the recorded in-log schema serves even when every removed file
    // was vacuumed — the one state the footer walk below cannot cover
    tableSchema(dir, Some(v)) match {
      case Some(st) => return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
      case None => ()
    }
    val sample = (v to 0 by -1).iterator
      .filter(i => Files.exists(versionFile(dir, i)))
      .flatMap(i => changes(dir, i)._2)
      .find(f => new File(dir, f).isFile)
      .getOrElse(throw new IllegalStateException(
        s"$dir is empty at version $v and every removed file was " +
          "vacuumed — schema unrecoverable"))
    spark.read.parquet(s"$dir/$sample").limit(0)
  }

  /** Outstanding DELETION-VECTOR sources per live file at `asOf`:
    * inline positions (`dv` lines) and sidecar paths (`dvf` lines),
    * replayed in log order — removing a file clears its vectors (the
    * rewrite materialized them). Pure log metadata, no data IO. */
  private def dvSources(dir: String, asOf: Option[Int])
      : Map[String, (Set[Long], Seq[String])] =
    state(dir, asOf).dv.toMap

  /** True iff any live file carries outstanding deletion vectors at
    * `asOf` — log-metadata only, no Spark needed. */
  def hasDeletionVectors(dir: String, asOf: Option[Int] = None): Boolean =
    dvSources(dir, asOf).nonEmpty

  /** Accumulated DELETION VECTORS at `asOf`: file → deleted row
    * positions, with sidecar files resolved through `spark`. Driver
    * materialization by design — a POSITIONS-level view for tests and
    * small tables; the read path joins [[dvFrameFrom]] distributed and
    * never calls this. `private[graft]` makes the contract structural
    * (VERDICT r9 #3): production code outside the library cannot reach
    * the unbounded positions collect — TxLogSpec is its only caller. */
  private[graft] def deletionVectors(spark: SparkSession, dir: String,
      asOf: Option[Int] = None): Map[String, Set[Long]] = {
    import org.apache.spark.sql.functions.col
    val src = dvSources(dir, asOf)
    if (src.isEmpty) return Map.empty
    val fromSidecars: Map[String, Set[Long]] = {
      val wanted = src.toSeq.flatMap { case (f, (_, sidecars)) =>
        sidecars.map(sc => (sc, f)) }
      wanted.groupBy(_._1).toSeq.flatMap { case (sc, fs) =>
        val names = fs.map { case (_, f) => new File(f).getName }.toSet
        val byName = fs.map { case (_, f) => new File(f).getName -> f }.toMap
        spark.read.schema(dvSidecarSchema).parquet(s"$dir/$sc")
          .filter(col("file").isin(names.toSeq: _*))
          .collect()
          .map(r => (byName(r.getString(0)), r.getLong(1)))
      }.groupBy(_._1).map { case (f, ps) => f -> ps.map(_._2).toSet }
    }
    src.map { case (f, (inline, _)) =>
      f -> (inline ++ fromSidecars.getOrElse(f, Set.empty))
    }.filter(_._2.nonEmpty)
  }

  /** DV sidecars are ENGINE-written ([[commitDvHits]]): (file STRING,
    * pos BIGINT), always. Declaring the schema on every sidecar read
    * skips the per-read schema-inference Spark job a bare
    * spark.read.parquet runs (ParquetFileFormat.inferSchema — one
    * driver-scheduled job per dvFrameFrom call; stack-sampled r14). */
  private val dvSidecarSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("file",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType)))

  /** The DISTRIBUTED deletion-vector relation of `src` (a fold's
    * outstanding vectors): a (`__f` file basename, `__p` position)
    * DataFrame unioning inline log positions (metadata-sized
    * parallelize) with sidecar parquet scans — row positions never pass
    * through the driver (VERDICT r8: a 100 TB GDPR delete has millions
    * of matches). None when no vectors are outstanding. */
  private def dvFrameFrom(spark: SparkSession, dir: String,
      src: Map[String, (Set[Long], Seq[String])]): Option[DataFrame] = {
    import org.apache.spark.sql.functions.col
    if (src.isEmpty) return None
    val inlineRows = src.toSeq.flatMap { case (f, (inline, _)) =>
      inline.toSeq.map(p => (new File(f).getName, p)) }
    val inlineDf =
      if (inlineRows.isEmpty) None
      else Some(spark.createDataFrame(inlineRows).toDF("__f", "__p"))
    // one scan per distinct sidecar, filtered to the files still
    // carrying it (a later COW rewrite may have cleared some)
    val sidecarDfs = src.toSeq
      .flatMap { case (f, (_, sidecars)) =>
        sidecars.map(sc => (sc, new File(f).getName)) }
      .groupBy(_._1).toSeq.map { case (sc, fs) =>
        val names = fs.map(_._2).distinct
        spark.read.schema(dvSidecarSchema).parquet(s"$dir/$sc")
          .filter(col("file").isin(names: _*))
          .toDF("__f", "__p")
      }
    val all = (inlineDf.toSeq ++ sidecarDfs).reduce(_ unionByName _)
    Some(all.distinct())
  }

  /** MERGE-ON-READ delete: instead of rewriting files (deleteWhere's
    * copy-on-write), commit the matching ROW POSITIONS as deletion
    * vectors — an O(matches) commit no matter how large the touched
    * files are, the Delta/Iceberg v2 "position delete" shape. The
    * positions are computed in ONE distributed scan over the live set
    * and written as a parquet SIDECAR under `_dv/` (sorted runs per
    * file); the log lines reference the sidecar per file
    * (`dvf\t<file>\t<sidecar>`) — nothing row-grain ever reaches the
    * driver (only the affected FILE list does, which is file-grain
    * metadata). Readers anti-join `_metadata.row_index`; OPTIMIZE
    * materializes (purges) the vectors by rewriting. */
  def deleteWhereDV(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column): Int = {
    import org.apache.spark.sql.functions.col
    val cur = currentVersion(dir)
    val st = state(dir, Some(cur))
    val live = st.live.keys.toSeq
    if (live.isEmpty) return cur
    // same metadata split as [[deleteWhere]]: pruned files never scan;
    // PROVEN files need no vectors — the whole file drops in the same
    // commit (a DV spanning every row would just be a slower remove)
    val (proven, candidates) = classifyByPredicate(st, pred)
    if (candidates.isEmpty) {
      if (proven.isEmpty) return cur
      return claimOverAppendsRetrying(dir, cur, proven.map(Remove))
    }
    // bind the row identity BEFORE the logical projection (mapped
    // tables): `_metadata` is only reachable on the scan's own output
    val hits = projectToLogical(
        scanUnderLogSchema(spark, dir, candidates)
          .withColumn("__dvf", col("_metadata.file_name"))
          .withColumn("__dvp", col("_metadata.row_index")),
        dir, None, keep = Seq("__dvf", "__dvp"))
      .filter(pred)
      .select(col("__dvf").as("file"), col("__dvp").as("pos"))
    commitDvHits(spark, dir, cur, st, hits, proven)
  }

  /** MERGE-ON-READ delete of an EXPLICIT hit set — (`file` basename,
    * `pos` row index) rows computed by an external matcher
    * ([[graft.plans.TxLogDml]]'s correlated-subquery DELETE evaluates
    * the full condition, joins included, and hands the positions here):
    * same O(matches) sidecar commit as [[deleteWhereDV]]. */
  private[graft] def deleteHitsDV(spark: SparkSession, dir: String,
      hits: DataFrame): Int = {
    val cur = currentVersion(dir)
    commitDvHits(spark, dir, cur, state(dir, Some(cur)), hits)
  }

  private def commitDvHits(spark: SparkSession, dir: String, cur: Int,
      st: LogState, hits: DataFrame,
      wholesaleRemoves: Seq[String] = Seq.empty): Int = {
    import org.apache.spark.sql.functions.col
    val live = st.live.keys.toSeq
    val fresh = dvFrameFrom(spark, dir, st.dv.toMap) match {
      case Some(existing) =>
        hits.join(existing.withColumnRenamed("__f", "file")
          .withColumnRenamed("__p", "pos"), Seq("file", "pos"), "left_anti")
      case None => hits
    }
    val freshP = fresh.persist()
    try {
      // file-grain metadata collect (the affected-file LIST, never rows)
      val touchedNames = freshP.select("file").distinct().collect()
        .map(_.getString(0)).toSet
      val removes = wholesaleRemoves.map(Remove)
      if (touchedNames.isEmpty) {
        if (wholesaleRemoves.isEmpty) return cur
        return claimOverAppendsRetrying(dir, cur, removes)
      }
      val byName = live.groupBy(f => new File(f).getName)
      byName.find(_._2.size > 1).foreach { case (_, fs) =>
        throw new IllegalStateException(
          s"basename collision in live set: $fs") }
      val v = cur + 1
      val sidecar = s"_dv/v$v-${java.util.UUID.randomUUID().toString.take(8)}"
      freshP.repartition(col("file")).sortWithinPartitions("file", "pos")
        .write.mode("overwrite").parquet(s"$dir/$sidecar")
      val lines = touchedNames.toSeq.sorted.map(n => Dvf(byName(n).head, sidecar))
      claimOverAppendsRetrying(dir, cur, removes ++ lines)
    } finally { freshP.unpersist(): Unit }
  }

  /** Live files holding at least one row surviving `matcher` — found
    * in ONE distributed scan over the whole live set via
    * `_metadata.file_name` (per-file probe jobs would be 100k
    * driver-sequential jobs on a 100k-file table; this is one job,
    * and only the matching FILE NAME list reaches the driver). At
    * real scale the scan itself is first pruned by log-resident
    * zone maps ([[pruneSnapshot]]) — the protocol is unchanged. */
  /** Writer-side metadata pruning: split the live set into
    * (PROVEN-all-match, candidate) file lists for a DML predicate —
    * pure log metadata, zero data IO. A file lands in neither list
    * when its recorded partition values / zone maps prove NO row can
    * satisfy `pred` (safe for DELETE/UPDATE: only TRUE rows act); in
    * PROVEN when its partition values prove EVERY row satisfies it
    * (the Delta partition-aligned DELETE fast path: drop the file from
    * the log, no read, no rewrite). On a 100 TB date-partitioned table
    * `DELETE WHERE day = X` must be O(that partition's metadata), not
    * a full-table probe scan. Unparseable/unrecognized predicates
    * degrade to (nothing proven, all live candidates). */
  private def classifyByPredicate(st: LogState,
      pred: org.apache.spark.sql.Column): (Seq[String], Seq[String]) = {
    val all = st.live.keys.toSeq
    val expr =
      try Some(org.apache.spark.sql.GraftSqlBridge.exprOf(pred))
      catch { case scala.util.control.NonFatal(_) => None }
    expr match {
      case None => (Seq.empty, all)
      case Some(e) =>
        val n = MetaSurvive.normalize(e)
        val metas = st.live.toSeq.map { case (f, a) =>
          f -> MetaSurvive.FileMeta(a.partitionValues, a.stats, a.strStats)
        }
        val surviving = metas.filter { case (_, m) =>
          MetaSurvive.survives(m, n) }
        val (proven, candidates) = surviving.partition { case (_, m) =>
          MetaSurvive.provesAll(m, n) }
        (proven.map(_._1), candidates.map(_._1))
    }
  }

  /** The expression walk behind [[classifyByPredicate]] — the
    * writer-side twin of the catalog scan's
    * [[graft.sources.TxLogFileIndex]] survival walk, extended to match
    * UNRESOLVED attributes (the Column API's `col("x") === 5` never
    * passes an analyzer) and to PROVE full-file matches. Three-valued
    * and conservative: any unrecognized shape survives and proves
    * nothing. */
  private object MetaSurvive {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.unsafe.types.UTF8String

    /** Spark's dynamic-partition rendering of NULL **and empty-string**
      * values: a recorded sentinel is AMBIGUOUS (null or ""), so it
      * yields no information — never prune on it, never prove with it. */
    val NullPartition = "__HIVE_DEFAULT_PARTITION__"

    final case class FileMeta(pv: Map[String, String],
        zm: Map[String, (Long, Long)], sm: Map[String, (String, String)])

    private object AttrName {
      def unapply(e: Expression): Option[String] = e match {
        case a: AttributeReference => Some(a.name)
        case u: UnresolvedAttribute => Some(u.nameParts.last)
        case _ => None
      }
    }

    /** The Column DSL never builds binary comparison nodes — `=== < >
      * && isin` all arrive as catalyst `UnresolvedFunction` calls that
      * only the analyzer would rewrite. Fold the fixed arithmetic of
      * this walk back into real nodes; anything unrecognized stays
      * as-is (the walk treats it conservatively). */
    def normalize(e: Expression): Expression = e match {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.size == 1 && !f.isDistinct =>
        val args = f.arguments.map(normalize)
        (f.nameParts.head.toLowerCase(java.util.Locale.ROOT), args) match {
          case ("=" | "==", Seq(l, r)) => EqualTo(l, r)
          case ("<", Seq(l, r)) => LessThan(l, r)
          case ("<=", Seq(l, r)) => LessThanOrEqual(l, r)
          case (">", Seq(l, r)) => GreaterThan(l, r)
          case (">=", Seq(l, r)) => GreaterThanOrEqual(l, r)
          case ("and", Seq(l, r)) => And(l, r)
          case ("or", Seq(l, r)) => Or(l, r)
          case ("in", v +: rest) if rest.nonEmpty => In(v, rest)
          case ("isnull", Seq(v)) => IsNull(v)
          case ("isnotnull", Seq(v)) => IsNotNull(v)
          case _ => f
        }
      case other => other.mapChildren(normalize)
    }

    /** `cast(col AS string)` renderings that are injective on their
      * type — the only values partition-marker equality may use. */
    private def render(v: Any): Option[String] = v match {
      case null => None
      case u: UTF8String => Some(u.toString)
      case s: String => Some(s)
      case l: Long => Some(l.toString)
      case i: Int => Some(i.toString)
      case s: Short => Some(s.toString)
      case b: Byte => Some(b.toString)
      case b: Boolean => Some(b.toString)
      case _ => None
    }

    private def asLong(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }

    private def asU8(v: Any): Option[UTF8String] = v match {
      case u: UTF8String => Some(u)
      case s: String => Some(UTF8String.fromString(s))
      case _ => None
    }

    private def eqSurvives(m: FileMeta, c: String, v: Any): Boolean = {
      val zone = for { x <- asLong(v); (lo, hi) <- m.zm.get(c) }
        yield lo <= x && x <= hi
      val str = asU8(v).flatMap { u =>
        m.sm.get(c).map { case (lo, hi) =>
          UTF8String.fromString(lo).compareTo(u) <= 0 &&
            u.compareTo(UTF8String.fromString(hi)) <= 0 }
      }
      val part = for {
        s <- render(v); p <- m.pv.get(c) if p != NullPartition
      } yield p == s
      zone.getOrElse(true) && str.getOrElse(true) && part.getOrElse(true)
    }

    private def boundSurvives(m: FileMeta, c: String)
        (pred: (Long, Long, Long) => Boolean)(v: Any): Boolean = {
      val long = for { x <- asLong(v); (lo, hi) <- m.zm.get(c) }
        yield pred(lo, hi, x)
      val str = asU8(v).flatMap { u =>
        m.sm.get(c).map { case (lo, hi) =>
          pred(UTF8String.fromString(lo).compareTo(u).sign.toLong,
            UTF8String.fromString(hi).compareTo(u).sign.toLong, 0L) }
      }
      long.orElse(str).getOrElse(true)
    }

    /** Can the file hold a row where `e` is TRUE? */
    def survives(m: FileMeta, e: Expression): Boolean = e match {
      case And(l, r) => survives(m, l) && survives(m, r)
      case Or(l, r) => survives(m, l) || survives(m, r)
      case EqualTo(AttrName(c), Literal(v, _)) => eqSurvives(m, c, v)
      case EqualTo(Literal(v, _), AttrName(c)) => eqSurvives(m, c, v)
      case In(AttrName(c), vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.isEmpty ||
          vs.exists { case Literal(v, _) => eqSurvives(m, c, v) }
      case GreaterThan(AttrName(c), Literal(v, _)) =>
        boundSurvives(m, c)((_, hi, x) => hi > x)(v)
      case GreaterThanOrEqual(AttrName(c), Literal(v, _)) =>
        boundSurvives(m, c)((_, hi, x) => hi >= x)(v)
      case LessThan(AttrName(c), Literal(v, _)) =>
        boundSurvives(m, c)((lo, _, x) => lo < x)(v)
      case LessThanOrEqual(AttrName(c), Literal(v, _)) =>
        boundSurvives(m, c)((lo, _, x) => lo <= x)(v)
      case GreaterThan(Literal(v, _), AttrName(c)) => // v > col ≡ col < v
        boundSurvives(m, c)((lo, _, x) => lo < x)(v)
      case GreaterThanOrEqual(Literal(v, _), AttrName(c)) =>
        boundSurvives(m, c)((lo, _, x) => lo <= x)(v)
      case LessThan(Literal(v, _), AttrName(c)) =>
        boundSurvives(m, c)((_, hi, x) => hi > x)(v)
      case LessThanOrEqual(Literal(v, _), AttrName(c)) =>
        boundSurvives(m, c)((_, hi, x) => hi >= x)(v)
      case IsNull(AttrName(c)) =>
        // a non-sentinel recorded partition value means NO nulls
        m.pv.get(c).forall(_ == NullPartition)
      case _ => true
    }

    /** Is `e` provably TRUE for EVERY row of the file? Partition-value
      * equality only — the single per-file fact strong enough to prove
      * universally. Never proves through a sentinel (null vs "" is
      * ambiguous) and never through a non-injective rendering. */
    def provesAll(m: FileMeta, e: Expression): Boolean = e match {
      case And(l, r) => provesAll(m, l) && provesAll(m, r)
      case Or(l, r) => provesAll(m, l) || provesAll(m, r)
      case EqualTo(AttrName(c), Literal(v, _)) => provedEq(m, c, v)
      case EqualTo(Literal(v, _), AttrName(c)) => provedEq(m, c, v)
      case In(AttrName(c), vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists { case Literal(v, _) => provedEq(m, c, v) }
      case _ => false
    }

    private def provedEq(m: FileMeta, c: String, v: Any): Boolean =
      render(v).exists(s =>
        m.pv.get(c).exists(p => p != NullPartition && p == s))
  }

  private def affectedFiles(spark: SparkSession, dir: String,
      live: Seq[String], matcher: DataFrame => DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions.col
    if (live.isEmpty) return Seq.empty
    // bind the metadata column BEFORE the matcher: a join inside the
    // matcher projects the scan's `_metadata` away. The matcher's
    // predicates bind LOGICAL names — project the mapped storage
    // names onto them, keeping the file key.
    val base = projectToLogical(
      scanUnderLogSchema(spark, dir, live)
        .withColumn("__f", col("_metadata.file_name")),
      dir, None, keep = Seq("__f"))
    val names = matcher(base)
      .select(col("__f")).distinct()
      .collect().map(_.getString(0)).toSet
    live.filter(f => names.contains(new File(f).getName))
  }

  /** DV-aware read of an explicit live-file subset at the CURRENT
    * version — the SQL DML executor's rewrite input
    * ([[graft.plans.TxLogDml]] reads exactly the copy-on-write victim
    * files with outstanding vectors applied). */
  private[graft] def readLiveFiles(spark: SparkSession, dir: String,
      files: Seq[String]): DataFrame = {
    val st = state(dir, None)
    readFiles(spark, dir, files,
      dvFrameFrom(spark, dir,
        st.dv.toMap.filter { case (f, _) => files.contains(f) }))
  }

  /** DV-aware read of `files` KEEPING the stable row identity — table
    * columns plus `__f` (file basename) and `__p` (row index): the SQL
    * DML executor's correlated-DELETE input, where the match set must
    * join back to exactly the rows it was computed from. */
  private[graft] def readLiveFilesKeyed(spark: SparkSession, dir: String,
      files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val st = state(dir, None)
    val base = projectToLogical(
      scanUnderLogSchema(spark, dir, files)
        .withColumn("__f", col("_metadata.file_name"))
        .withColumn("__p", col("_metadata.row_index")),
      dir, None, keep = Seq("__f", "__p"))
    dvFrameFrom(spark, dir,
      st.dv.toMap.filter { case (f, _) => files.contains(f) }) match {
      case None => base
      case Some(dv) => base.join(dv, Seq("__f", "__p"), "left_anti")
    }
  }

  /** Stage `df` and validate it against active CHECK constraints (the
    * [[stageEnforced]] contract) — the SQL DML executor's writer-side
    * entry. */
  private[graft] def stageChecked(df: DataFrame, dir: String): Seq[String] =
    stageEnforced(df, dir)

  /** [[stageChecked]] returning FINISHED add lines (partition markers
    * included on a declared-partitioned table) — the SQL MERGE
    * executor's staging leg ([[graft.plans.TxLogDml]]). */
  private[graft] def stageCheckedLines(spark: SparkSession,
      df: DataFrame, dir: String): Seq[Add] =
    stageLinesEnforced(spark, df, dir)._2

  /** Stage `df` under the table's DECLARED layout — partition-pure
    * files with finished `p:`-marked add lines when partition columns
    * are declared, plain staging otherwise; constraint-checked either
    * way. EVERY rewriting writer (DELETE/UPDATE survivors, upsert,
    * MERGE) stages through this: without it a rewrite silently demotes
    * a partitioned table's files to unprunable (no markers →
    * conservative keep on every partition predicate), and on a 100 TB
    * table one DELETE would grow the unprunable set forever. A rewrite
    * that CHANGES a partition column's value (UPDATE SET part = ...)
    * lands rows in their new partition files for free. */
  private[graft] def stageLinesEnforced(spark: SparkSession,
      df: DataFrame, dir: String): (Seq[String], Seq[Add]) = {
    val declared = partitionColumns(dir)
    val (names, lines) =
      if (declared.nonEmpty) stagePartitioned(spark, df, dir, declared)
      else {
        val n = stageEnforced(df, dir)
        (n, n.map(Add(_)))
      }
    (names, withDeclaredStats(spark, dir, lines))
  }

  /** Commit with PRE-BUILT add lines (marker-carrying) — the
    * rewriting writers' claim leg. Retries across pure blind appends
    * ([[claimOverAppendsRetrying]]). */
  private[graft] def commitLines(dir: String, expected: Int,
      addLines: Seq[Add], removes: Seq[String]): Int =
    claimOverAppendsRetrying(dir, expected, removes.map(Remove) ++ addLines)

  /** Is version `v` a PURE BLIND APPEND — new data files and their
    * bookkeeping only (add/txn/copysrc lines, a widened union schema),
    * nothing removed, no vectors, no constraint/property/layout
    * changes, and DECIDED? Only such versions commute with a
    * read-based DML commit. */
  private def isPureAppend(dir: String, v: Int): Boolean =
    !versionUndecided(dir, v) && entryActions(dir, v).forall {
      // Ts: every commit's instant stamp
      case _: Add | _: Txn | _: CopySrc | _: Schema | _: Ts => true
      case _ => false
    }

  /** WRITE-SERIALIZABLE conflict resolution (Delta's default level):
    * a commit whose removes/rewrites were computed against snapshot
    * `expected` lost the claim race — it may re-claim at the new head
    * IFF every interfering version is a [[isPureAppend]] blind append.
    * Sound because appends cannot invalidate the computed write set:
    * nothing this commit removes was removed, no deletion vector
    * landed, no constraint/property/layout changed under it. The
    * documented WriteSerializable anomaly applies exactly as in Delta:
    * rows appended concurrently with a DELETE survive even if they
    * match its predicate (they serialize AFTER it). Anything stronger
    * — a concurrent DML, OPTIMIZE, RESTORE, metadata change — still
    * conflicts. At 100 TB this is the difference between ingest and
    * maintenance coexisting vs the nightly DELETE killing every
    * concurrent append stream (or vice versa). */
  private def claimOverAppendsRetrying(dir: String, expected: Int,
      lines: Seq[LogAction], maxRetries: Int = 20): Int = {
    var base = expected
    var attempt = 0
    while (true) {
      appendRaceHook()
      try return claimVersion(dir, base + 1, lines)
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          val cur = currentVersion(dir)
          val commutes = attempt <= maxRetries && cur > base &&
            (base + 1 to cur).forall(v => isPureAppend(dir, v))
          if (!commutes) throw e
          base = cur
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** DV-aware scan of `files` as of the vectors in `dv`: rows whose
    * (file, position) is deleted never reach the caller. On a
    * column-mapped table the result projects PHYSICAL storage names
    * back onto the logical schema at `asOf` ([[projectToLogical]]) —
    * the one seam that makes every consumer (scans, DML probes, time
    * travel) see renamed columns under their schema names and dropped
    * columns not at all. */
  /** Parquet scan of table-resident LIVE files under the RECORDED
    * (physical-name) schema when the log carries one. Commits may
    * EVOLVE the schema (add columns) — the union schema is the table
    * schema, old files read the new columns as NULL (q380) — and the
    * log RECORDS that union (schema lines; evolution is
    * add-nullable-columns-only, so no per-file type reconciliation is
    * ever needed). The mergeSchema footer walk this replaces ran a
    * SPARK JOB per read (SchemaMergeUtils.mergeSchemasInParallel — the
    * single largest stack-sample bucket across the lakehouse query
    * family, ~0.5–1 s per query at sf0.1); legacy tables without a
    * schema line keep the mergeSchema fallback. Physical storage names
    * come from the column mapping; [[projectToLogical]] restores
    * logical names downstream. */
  private def scanUnderLogSchema(spark: SparkSession, dir: String,
      files: Seq[String], asOf: Option[Int] = None): DataFrame =
    tableSchema(dir, asOf) match {
      case Some(logical) =>
        val cm = columnMapping(dir, asOf)
        val phys = org.apache.spark.sql.types.StructType(
          logical.fields.map(f => f.copy(name = cm.phys(f.name))))
        spark.read.schema(phys).parquet(files.map(f => s"$dir/$f"): _*)
      case None => spark.read.option("mergeSchema", "true")
        .parquet(files.map(f => s"$dir/$f"): _*)
    }

  private def readFiles(spark: SparkSession, dir: String,
      files: Seq[String], dv: Option[DataFrame],
      asOf: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (files.isEmpty)
      throw new IllegalArgumentException("empty snapshot read")
    val base = scanUnderLogSchema(spark, dir, files, asOf)
    val merged = dv match {
      case None => base
      case Some(dvDf) =>
        val cols = base.columns.map(col)
        // vectors are keyed by BASENAME: `_metadata.file_name` is the
        // bare file name, while a shallow clone's log references files
        // by relative PATH — both must hit the same anti-join key
        base
          .withColumn("__f", col("_metadata.file_name"))
          .withColumn("__p", col("_metadata.row_index"))
          .join(dvDf, Seq("__f", "__p"), "left_anti")
          .select(cols: _*)
    }
    projectToLogical(merged, dir, asOf)
  }

  /** MERGE/UPSERT by key (insert-or-replace whole rows): copy-on-write
    * over exactly the files holding a matched key — rewritten without
    * their matches — plus the full source staged as new files, i.e.
    * new state = (old ∖ keys(source)) ∪ source. The per-file match
    * probe is a read here; at 100 TB the same decision comes from
    * file-level min/max or bloom sidecars (q274's zone maps) — the
    * LOG protocol is identical either way. */
  def upsert(spark: SparkSession, dir: String, source: DataFrame,
      keyCol: String): Int = {
    // survivors were validated when first written; only the source is
    // new. Stage the source FIRST: the frame executes exactly once, and
    // the key probe below reads the deterministic staged parquet — a
    // nondeterministic source cannot stage different rows than the ones
    // whose keys drove the rewrite (ADVICE r10).
    val cur = currentVersion(dir)
    val st = state(dir, Some(cur))
    val (srcStaged, srcLines) = stageLinesEnforced(spark, source, dir)
    val src =
      if (srcStaged.isEmpty) source.limit(0)
      else logicalizeStaged(spark.read // one write — identical schemas
        .parquet(srcStaged.map(f => s"$dir/$f"): _*), dir)
    val keys = src.select(keyCol).distinct().persist()
    try {
      val affected = affectedFiles(spark, dir, st.live.keys.toSeq,
        df => df.join(keys, Seq(keyCol), "left_semi"))
      val survivorLines =
        if (affected.isEmpty) Seq.empty[Add]
        else {
          val kept = readFiles(spark, dir, affected,
              dvFrameFrom(spark, dir, st.dv.toMap))
            .join(keys, Seq(keyCol), "left_anti")
          if (kept.isEmpty) Seq.empty[Add]
          else stageLinesEnforced(spark, kept, dir)._2
        }
      claimVersion(dir, cur + 1,
        affected.map(Remove) ++
          survivorLines ++ srcLines ++
          schemaLine(source, dir))
    } finally { keys.unpersist(): Unit }
  }

  /** Idempotent append for exactly-once streaming sinks: the commit
    * carries a `txn\t<app>\t<id>` marker line; a replayed micro-batch
    * (same app + id already in the log) is SKIPPED — the
    * foreachBatch-replay contract q296 proves for JDBC, here as a log
    * protocol property. Returns the committed version, or -1 when the
    * batch was recognized as a replay. */
  def appendIdempotent(df: DataFrame, dir: String,
      app: String, txnId: Long): Int = {
    if (txnSeen(dir, app, txnId)) return -1
    val (adds, lines) = stageLinesEnforced(df.sparkSession, df, dir)
    claimTxnRetrying(df.sparkSession, dir, adds, app, txnId,
      () => lines ++ schemaLine(df, dir))
  }

  /** Driver-side commit of EXECUTOR-staged files as one idempotent
    * streaming epoch — the DSv2 streaming write's commit leg
    * ([[graft.sources.TxLogStreamingWrite]]): tasks already wrote the
    * parquet files straight into the table directory (invisible until
    * referenced, like every staged file), so the driver only validates
    * constraints against exactly those bytes and claims adds + schema +
    * txn marker. A REPLAYED epoch (marker already in the log — the
    * checkpoint-recovery path) deletes its re-staged files and returns
    * -1: exactly-once by protocol, the appendIdempotent contract
    * without a driver-side restage. */
  def commitStagedIdempotent(spark: SparkSession, dir: String,
      files: Seq[String], schema: org.apache.spark.sql.types.StructType,
      app: String, txnId: Long): Int = {
    if (txnSeen(dir, app, txnId)) {
      files.foreach(f => Files.deleteIfExists(Paths.get(dir, f)))
      return -1
    }
    // an ALL-EMPTY-PARTITION epoch stages nothing — claiming a version
    // for it would burn one schema+txn-only commit per empty epoch on a
    // low-traffic stream and skew version-count probes (ADVICE r12); a
    // replayed empty epoch is indistinguishable from a committed one,
    // so skipping keeps the exactly-once contract
    if (files.isEmpty) return -1
    validateStaged(spark, dir, files)
    // declared-stats bounds per epoch batch (one distributed agg over
    // the epoch's files) — streamed files prune exactly like batch ones
    val lines = withDeclaredStats(spark, dir, files.map(Add(_)))
    claimTxnRetrying(spark, dir, files, app, txnId,
      () => lines ++ schemaLineOf(schema, dir))
  }

  /** The PARTITIONED form of [[commitStagedIdempotent]] — the DSv2
    * streaming write on a declaratively partitioned table: each staged
    * file arrives with its (already partition-pure) values, committed
    * as `p:` markers so streamed files prune exactly like batch ones. */
  def commitStagedPartsIdempotent(spark: SparkSession, dir: String,
      files: Seq[(String, Map[String, String])],
      schema: org.apache.spark.sql.types.StructType,
      app: String, txnId: Long): Int = {
    if (txnSeen(dir, app, txnId)) {
      files.foreach { case (f, _) =>
        Files.deleteIfExists(Paths.get(dir, f)) }
      return -1
    }
    if (files.isEmpty) return -1
    validateStaged(spark, dir, files.map(_._1))
    val lines = withDeclaredStats(spark, dir,
      files.map { case (f, vals) =>
        Add(f, vals.toSeq.map { case (c, v) => Part(c, v) }) })
    claimTxnRetrying(spark, dir, files.map(_._1), app, txnId,
      () => lines ++ schemaLineOf(schema, dir))
  }

  /** Has `(app, txnId)` already committed? Scanned from the replayed
    * txn marker lines — checkpoints carry them forward, so replay
    * detection survives log truncation below a checkpoint. */
  def txnSeen(dir: String, app: String, txnId: Long): Boolean =
    currentVersion(dir) >= 0 &&
      state(dir, None).txns.contains(Txn(app, txnId))

  /** OPTIMIZE: rewrite the current live set into `nFiles` compacted
    * files as a new version — bit-identical rows, new layout; older
    * versions keep reading the small files until vacuumed.
    *
    * With `clusterBy = Seq(x, y)` this is OPTIMIZE ZORDER (Delta's):
    * rows are laid out along the 2-D Morton curve of the two (integral)
    * columns — each dimension min/max-scaled into the 16-bit curve
    * domain, interleaved by the native codegen'd
    * [[graft.functions.ZOrder2D]], range-partitioned into `nFiles` by
    * curve position and sorted within — so every output file covers a
    * small curve segment ≈ a small RECTANGLE in (x, y) space. The add
    * lines then carry min/max triples for BOTH columns ([[enrichLines]]
    * one-scan bounds), making [[pruneSnapshot]] zone maps effective on
    * either dimension at once instead of only a leading sort key. */
  def optimize(spark: SparkSession, dir: String, nFiles: Int = 1,
      clusterBy: Seq[String] = Seq.empty): Int = {
    import org.apache.spark.sql.functions.{call_function, col, floor, lit, max, min}
    val cur = currentVersion(dir)
    val st = state(dir, Some(cur))
    val live = st.live.keys.toSeq
    // DV-aware: compaction MATERIALIZES outstanding deletion vectors —
    // the rewritten files hold only live rows, and removing the old
    // files clears their vectors in the same commit
    val src = readFiles(spark, dir, live, dvFrameFrom(spark, dir, st.dv.toMap))
    // `nodc` (no data change): compaction rewrites LAYOUT, never logical
    // content — the change feed skips marked versions wholesale (Delta's
    // `dataChange = false` on OPTIMIZE's add/remove actions). Readers
    // ignore unknown line types, so pre-marker logs interoperate.
    val zOpt: Option[org.apache.spark.sql.Column] =
      if (clusterBy.isEmpty) None
      else {
        require(clusterBy.size == 2,
          s"clusterBy takes exactly 2 columns (2-D Morton curve), got $clusterBy")
        graft.functions.GraftFunctions.register(spark)
        val Seq(cx, cy) = clusterBy
        // global bounds: one aggregate pass, a 1-row metadata frame
        val b = src.agg(min(col(cx).cast("double")), max(col(cx).cast("double")),
          min(col(cy).cast("double")), max(col(cy).cast("double"))).head()
        def scaled(c: String, lo: Double, hi: Double) =
          if (hi <= lo) lit(0L)
          else floor((col(c).cast("double") - lit(lo))
            * lit(65535.0) / lit(hi - lo)).cast("long")
        Some(call_function("graft_zorder2",
          scaled(cx, b.getDouble(0), b.getDouble(1)),
          scaled(cy, b.getDouble(2), b.getDouble(3))))
      }
    val declared = partitionColumns(dir)
    if (declared.nonEmpty) {
      // a DECLARED-partitioned table compacts WITHIN partitions — the
      // rewritten files stay partition-pure and keep their `p:` markers
      // (a layout pass that demoted files to unprunable would undo the
      // table's own point). One distributed job: range-partition on
      // (partition shadows, curve position), sort within, and let the
      // partitionBy writer split boundary tasks into pure files.
      // `nFiles` bounds the TASK count; equal partition tuples land in
      // one task, so the simple path compacts to one file per value.
      // the curve column is computed on the LOGICAL frame here (before
      // staging maps storage names) so ZORDER BY still binds after a
      // RENAME COLUMN; `arrange` only orders by it and drops it
      val srcZ = zOpt.fold(src)(z => src.withColumn("__gz", z))
      val arrange: (DataFrame, Seq[String]) => DataFrame = (d, sh) => {
        val keys = sh.map(col) ++ zOpt.map(_ => col("__gz")).toSeq
        val arranged = d
          .repartitionByRange(math.max(nFiles, 1), keys: _*)
          .sortWithinPartitions(keys: _*)
        // the curve helper never reaches the files; dropping it is a
        // projection, so the physical row order survives
        zOpt.fold(arranged)(_ => arranged.drop("__gz"))
      }
      // constraint re-check skipped: bit-identical rows (nodc), same
      // contract as the unpartitioned compaction path
      val (_, adds) = stagePartitioned(spark, srcZ, dir, declared,
        checkConstraints = false, arrange = arrange)
      return claimVersion(dir, cur + 1, live.map(Remove) ++
        enrichLines(spark, dir, adds,
          (clusterBy ++ statsColumns(dir)).distinct) :+ NoDataChange)
    }
    zOpt match {
      case None =>
        claimVersion(dir, cur + 1,
          live.map(Remove) ++
            enrichLines(spark, dir,
              stage(src.coalesce(nFiles), dir).map(Add(_)),
              statsColumns(dir)) :+ NoDataChange)
      case Some(z) =>
        // curve-ordered layout; the helper column never reaches the files
        val clustered = src.withColumn("__z", z)
          .repartitionByRange(nFiles, col("__z"))
          .sortWithinPartitions(col("__z"))
          .drop("__z")
        val staged = stage(clustered, dir)
        claimVersion(dir, cur + 1,
          live.map(Remove) ++
            enrichLines(spark, dir, staged.map(Add(_)),
              (clusterBy ++ statsColumns(dir)).distinct) :+ NoDataChange)
    }
  }

  /** SHALLOW CLONE: a new table whose version 0 REFERENCES the source's
    * live files by relative path — zero bytes copied (the add-line
    * file field is joined under the clone's dir at read time, so
    * `../src/part-x.parquet` resolves naturally). The clone then
    * diverges independently: its deletes/appends/optimizes touch only
    * its own log and its own staged files; a copy-on-write rewrite
    * naturally "un-shares" whatever it touches. Caveat (same as
    * Delta's): vacuuming the SOURCE can break clones that still
    * reference its files — retention policy must span clones. That
    * caveat covers `_dv/` SIDECARS too (ADVICE r9): the clone's
    * translated `dvf` lines point at the source's sidecar parquet, and
    * [[vacuum]] on the source reclaims sidecars by the SOURCE's
    * retained versions alone — a clone still reading them fails with
    * path-not-found at scan. Either retain past every clone's creation
    * version or OPTIMIZE the clone first (materializing its vectors
    * un-shares the sidecars). */
  /** RESTORE the table to its state at `toVersion`, as a NEW commit
    * (Delta's `RESTORE TABLE ... TO VERSION AS OF`): the live set, the
    * outstanding deletion vectors, and the recorded schema all snap
    * back; history is preserved — the bad versions stay
    * time-travelable, and the restore itself is an auditable data
    * change (its removes + adds flow through the change feed like any
    * rewrite; re-added files carry the target's vectors in the same
    * commit, so CDF inserts are the surviving rows only). Zero data
    * IO — the target's VERBATIM add lines are re-committed, stats and
    * partition markers intact. Current CHECK constraints stay active
    * (restore moves data, not governance). Refuses when vacuum already
    * reclaimed any target file or DV sidecar — restorability is
    * bounded by the retention window, same as Delta. */
  def restore(dir: String, toVersion: Int): Int = {
    val cur = currentVersion(dir)
    require(toVersion >= 0 && toVersion <= cur,
      s"version $toVersion does not exist (table is at version $cur)")
    val st = state(dir, Some(toVersion))
    val missing = st.live.keys.filter(f => !new File(dir, f).isFile)
    require(missing.isEmpty,
      s"cannot restore to version $toVersion: data files already " +
        s"vacuumed: ${missing.take(3).mkString(", ")}")
    val missingSc = st.dv.values.flatMap(_._2)
      .filter(sc => !new File(dir, sc).exists())
    require(missingSc.isEmpty,
      s"cannot restore to version $toVersion: DV sidecars already " +
        s"vacuumed: ${missingSc.take(3).mkString(", ")}")
    val curSt = state(dir, Some(cur))
    val schemaSnap = st.schemaJson.toSeq
      .filter(j => !curSt.schemaJson.contains(j)).map(Schema)
    // LAYOUT-critical reserved properties travel with the data they
    // describe: a restore across a RENAME/DROP COLUMN (or a REPLACE
    // that changed partitioning/stats declarations) must snap them
    // back WITH the schema — current mapping over the restored schema
    // would mis-bind columns. User TBLPROPERTIES stay current
    // (governance, like constraints).
    val layoutSnap = Seq(PartitionColsProp, StatsColsProp,
        ColumnMappingProp, RetiredColsProp).flatMap { k =>
      (st.props.get(k), curSt.props.get(k)) match {
        case (Some(v), c) if !c.contains(v) => Seq(Property(k, v))
        case (None, Some(_)) => Seq(Unproperty(k))
        case _ => Seq.empty
      }
    }
    // remove EVERYTHING live now, re-add the target verbatim: removes
    // apply before adds within a commit, so files live at both
    // versions come back with the TARGET's add line and vectors
    claimVersion(dir, cur + 1,
      curSt.live.keys.toSeq.map(Remove) ++ st.fileActions() ++
        layoutSnap ++ schemaSnap)
  }

  def shallowClone(srcDir: String, dstDir: String): Int = {
    val srcSt = state(srcDir, None)
    // an UNDECIDED multi-table transaction resolves to nothing — a
    // clone taken inside that window would PERMANENTLY omit the
    // transaction's rows once it publishes (review r12 #2: vacuum and
    // checkpoint both refuse over this window; the clone persists the
    // weak view, so it must too)
    require(!srcSt.pendingXref,
      s"cannot clone $srcDir: a multi-table transaction in range has " +
        "not been decided yet (publish or TxLog.abortTx it first)")
    val rel = Paths.get(dstDir).toAbsolutePath
      .relativize(Paths.get(srcDir).toAbsolutePath)
    new File(dstDir).mkdirs()
    // the source's serialized state with every file and sidecar
    // reference re-rooted at the source (pure log rewrite, no data IO):
    // outstanding DVs carry over — a clone of a merge-on-read table
    // must not resurrect deleted rows; add markers (partition values,
    // zone maps) carry verbatim — the clone must prune exactly like the
    // source; and the METADATA clones too (schema, CHECK constraints,
    // TBLPROPERTIES, reader features, and the COPY INTO ledger, so
    // re-running the same COPY INTO against the clone does not
    // double-load) — Delta's clone semantics
    try claimVersion(dstDir, 0, srcSt.serialize(
      path = f => s"$rel${File.separator}$f", forClone = true))
    catch {
      case _: java.util.ConcurrentModificationException =>
        throw new java.util.ConcurrentModificationException(
          s"$dstDir already has a version 0")
    }
  }

  /** DEEP CLONE: a new independent table holding COPIES of the
    * source's live data files and DV sidecars — one file-copy pass
    * plus one version-0 commit carrying the source's add-line marker
    * fields (partition values, zone maps) verbatim, its outstanding
    * deletion vectors, CHECK constraints, TBLPROPERTIES, and schema.
    * Unlike [[shallowClone]], vacuuming the source can never break a
    * deep clone — the price is the copy, the payoff is a clone with
    * an independent retention lifecycle (Delta's DEEP CLONE
    * semantics). Sources that are themselves shallow clones flatten:
    * `../src/part-x.parquet` references copy in as local basenames. */
  def deepClone(srcDir: String, dstDir: String): Int = {
    val srcSt = state(srcDir, None)
    require(!srcSt.pendingXref,
      s"cannot clone $srcDir: a multi-table transaction in range has " +
        "not been decided yet (publish or TxLog.abortTx it first)")
    val live = srcSt.live.toSeq.sortBy(_._1)
    def base(f: String) = new File(f).getName
    live.groupBy(e => base(e._1)).find(_._2.size > 1).foreach { case (n, _) =>
      throw new IllegalStateException(
        s"deep clone needs unique live-file basenames, duplicated: $n") }
    val sidecars = srcSt.dv.toSeq
      .filter { case (f, _) => srcSt.live.contains(f) }
      .flatMap(_._2._2).distinct
    sidecars.groupBy(base).find(_._2.size > 1).foreach { case (n, _) =>
      throw new IllegalStateException(
        s"deep clone needs unique DV-sidecar basenames, duplicated: $n") }
    new File(dstDir).mkdirs()
    // copies land BEFORE the claim: until version 0 exists the
    // destination is just files, and a crash leaves reclaimable litter
    live.foreach { case (f, _) =>
      Files.copy(Paths.get(srcDir, f).normalize(),
        Paths.get(dstDir, base(f)),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit }
    if (sidecars.nonEmpty) new File(dstDir, "_dv").mkdirs()
    val scMap = sidecars.map { sc =>
      val to = s"_dv/${base(sc)}"
      // a sidecar is a parquet DIRECTORY (Spark-written part files) —
      // copy the tree, not the directory entry
      val fromP = Paths.get(srcDir, sc).normalize()
      val toP = Paths.get(dstDir, to)
      val walk = Files.walk(fromP)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.foreach { p =>
          val tgt = toP.resolve(fromP.relativize(p))
          if (Files.isDirectory(p)) Files.createDirectories(tgt): Unit
          else {
            Files.createDirectories(tgt.getParent): Unit
            Files.copy(p, tgt,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
          }
        }
      } finally walk.close()
      sc -> to
    }.toMap
    try claimVersion(dstDir, 0, srcSt.serialize(
      path = p => scMap.getOrElse(p, base(p)), forClone = true))
    catch {
      case _: java.util.ConcurrentModificationException =>
        throw new java.util.ConcurrentModificationException(
          s"$dstDir already has a version 0")
    }
  }

  /** TRUNCATE: one atomic pure-remove commit emptying the CURRENT
    * snapshot — zero data IO at any size, and the pre-truncate state
    * stays time-travelable until vacuumed (a versioned empty, not a
    * destructive wipe). Schema, properties, and constraints survive:
    * truncate moves data, not the definition. */
  def truncate(dir: String): Int = {
    val cur = currentVersion(dir)
    require(cur >= 0, s"$dir is not a TxLog table")
    val live = snapshot(dir, Some(cur))
    if (live.isEmpty) return cur
    claimVersion(dir, cur + 1, live.map(Remove))
  }

  /** Drop data files no longer live at the CURRENT version and not
    * referenced by any version > `retainAfter` — the retention window
    * that keeps recent time travel working — and in any case no file
    * younger than `minAgeMs` (mtime guard, default 7 days): a
    * concurrent writer's staged-but-uncommitted files sit unreferenced
    * in the data dir until its commit lands, and vacuuming them would
    * corrupt that commit (ADVICE r8). Tests pass `minAgeMs = 0`
    * deliberately. Returns deleted names. CLONE caveat: retention is
    * judged by THIS table's versions only — data files AND `_dv/`
    * sidecars still referenced by a shallow clone's translated lines
    * are invisible here, so retention policy must span clones (see
    * [[shallowClone]]). */
  def vacuum(dir: String, retainAfter: Int,
      minAgeMs: Long = DefaultVacuumMinAgeMs,
      dryRun: Boolean = false): Seq[String] = {
    val cur = currentVersion(dir)
    // An UNDECIDED multi-table transaction's staged files resolve to
    // NOTHING (the xref is a hole until publish), so protectedFiles
    // would miss them and a zero-min-age vacuum would delete data a
    // later publishTx commits references to (ADVICE r11 #4). Refuse —
    // mirroring checkpoint's pendingXref guard; deciding the
    // transaction (publish or abortTx) unblocks vacuum.
    require(!state(dir, Some(cur)).pendingXref,
      s"cannot vacuum $dir: a multi-table transaction in range has " +
        "not been decided yet (publish or TxLog.abortTx it first)")
    // A version whose raw entries were truncated below a checkpoint is
    // RETIRED — unreadable for time travel, so it protects nothing of
    // its own (any file of its still live later is protected by the
    // later, readable version).
    val states = (math.max(0, retainAfter) to cur).flatMap { v =>
      try Some(state(dir, Some(v)))
      catch { case _: java.nio.file.NoSuchFileException => None }
    }
    val protectedFiles = states.flatMap(_.live.keys).toSet
    val horizon = System.currentTimeMillis() - minAgeMs
    val onDisk = Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")
        && f.lastModified() <= horizon)
      .map(_.getName)
    val victims = onDisk.filterNot(protectedFiles)
    if (!dryRun)
      victims.foreach(f => Files.deleteIfExists(Paths.get(dir, f)))
    // DELETION-VECTOR sidecars age out with the versions that
    // referenced them: a sidecar no retained version's outstanding dvf
    // lines mention is dead weight (OPTIMIZE/COW rewrites cleared its
    // entries; a lost commit race orphaned it entirely) — without this
    // the _dv/ dir grows monotonically on a merge-on-read table. The
    // mtime guard protects a racing writer's just-written sidecar.
    val keptSidecars = states
      .flatMap(_.dv.values.flatMap(_._2)).map(new File(_).getName).toSet
    val dvVictims = Option(new File(dir, "_dv").listFiles())
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.lastModified() <= horizon
        && !keptSidecars.contains(d.getName))
    if (!dryRun) dvVictims.foreach(d => drop(d.toString))
    victims.toSeq ++ dvVictims.map(d => s"_dv/${d.getName}")
  }

  /** A committed version's instant: the `ts` line its writer recorded
    * inside the entry when present (robust to file-metadata loss —
    * ADVICE r9), else the log file's mtime (pre-ts entries; the
    * hard-link claim is the publish, so the mtime IS the commit
    * instant as long as metadata survives). */
  private def entryInstant(p: Path): Long =
    LogAction.read(p).collectFirst { case Ts(ms) => ms }
      .getOrElse(p.toFile.lastModified())

  /** Rewrite version `v`'s recorded commit instant (the `ts` line) —
    * the admin/test hook for pinning deterministic instants (backdated
    * imports, reproducible fixtures). Keeps the file mtime in sync for
    * pre-ts readers. */
  private[graft] def setCommitInstant(dir: String, v: Int,
      tsMillis: Long): Unit = {
    val p = versionFile(dir, v)
    val rest = LogAction.read(p).filterNot(_.isInstanceOf[Ts])
    val tmp = Files.createTempFile(logDir(dir).toPath, s".rets-$v-", ".tmp")
    Files.write(tmp, LogAction.render(Ts(tsMillis) +: rest))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(tsMillis)): Unit
  }

  /** TIME TRAVEL BY TIMESTAMP (Delta's `timestampAsOf`): the newest
    * version committed at or before `tsMillis`, resolved from each raw
    * entry's recorded `ts` line (mtime fallback for pre-ts entries).
    * Versions whose raw entries were truncated below a checkpoint
    * resolve through the checkpoint file's mtime conservatively.
    * Throws if the table has no version that early. */
  def versionAt(dir: String, tsMillis: Long): Int = {
    val files = Option(logDir(dir).listFiles()).getOrElse(Array.empty)
    val stamped = files.flatMap { f =>
      val n = f.getName
      if (n.endsWith(".txt"))
        n.stripSuffix(".txt").toIntOption.map(_ -> entryInstant(f.toPath))
      else if (n.endsWith(".checkpoint"))
        n.stripSuffix(".checkpoint").toIntOption.map(_ -> f.lastModified())
      else None
    }
    // a version present as BOTH raw entry and checkpoint keeps the raw
    // (earlier) commit instant — the checkpoint is written after
    val byV = stamped.groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).min }
    val eligible = byV.filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"$dir has no version committed at or before $tsMillis " +
        s"(earliest is ${if (byV.isEmpty) "none" else byV.values.min.toString})")
    eligible.keys.max
  }

  /** Read the table as of a wall-clock instant. */
  def readAt(spark: SparkSession, dir: String, tsMillis: Long): DataFrame =
    read(spark, dir, Some(versionAt(dir, tsMillis)))

  /** DESCRIBE HISTORY: one row per resolvable version, newest first —
    * (version, commit mtime millis, files added, files removed,
    * DV lines). Versions whose raw entries were truncated below a
    * checkpoint appear with counts -1 (retired — only their checkpoint
    * state survives). Pure log metadata. */
  def history(dir: String): Seq[(Int, Long, Int, Int, Int)] = {
    val cur = currentVersion(dir)
    (cur to 0 by -1).flatMap { v =>
      val p = versionFile(dir, v)
      if (Files.exists(p)) {
        val acts = entryActions(dir, v)
        Some((v, entryInstant(p),
          acts.count(_.isInstanceOf[Add]),
          acts.count(_.isInstanceOf[Remove]),
          acts.count(a => a.isInstanceOf[Dv] || a.isInstanceOf[Dvf])))
      } else {
        val cp = checkpointFile(dir, v)
        if (Files.exists(cp)) Some((v, cp.toFile.lastModified(), -1, -1, -1))
        else None
      }
    }
  }

  /** CHANGE DATA FEED over a committed version range (inclusive): every
    * row-level change as `(table columns…, _change_type,
    * _commit_version)` —
    *
    *   - `insert` rows from a version's ADDED files (minus any deletion
    *     vectors the SAME version commits on them — a shallow clone's
    *     version 0 carries the source's vectors alongside its adds, and
    *     its inserts are the surviving rows only);
    *   - `delete` rows from its REMOVED files, as live at the PREVIOUS
    *     version (vectors already outstanding there are honored — a
    *     DV-dead row does not die twice);
    *   - `delete` rows at the positions of NEWLY committed deletion
    *     vectors on pre-existing files (writers only commit fresh
    *     positions — [[deleteWhereDV]] anti-joins the outstanding set).
    *
    * A copy-on-write rewrite ([[deleteWhere]]/[[upsert]]) therefore
    * shows its re-staged survivors as delete+insert pairs — Delta's
    * documented CDF shape for commits without dedicated change files;
    * consumers apply a version's deletes BEFORE its inserts. OPTIMIZE
    * commits carry the `nodc` marker and are skipped wholesale
    * (layout, not content). Row grain stays fully distributed — the
    * driver touches only log lines. Needs the raw entries for the
    * range: CDF below a truncating checkpoint refuses with the version
    * number rather than silently skipping changes.
    *
    * Reference analog: the reference reprocesses FULL snapshots every
    * DAG run (`airflow/dags/CompleteETL.py:20`); a change feed is what
    * lets a 100 TB consumer read deltas instead. */
  def changeFeed(spark: SparkSession, dir: String,
      fromVersion: Int, toVersion: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val cur = currentVersion(dir)
    require(fromVersion >= 0 && fromVersion <= toVersion && toVersion <= cur,
      s"change-feed range [$fromVersion, $toVersion] outside [0, $cur]")
    // a RENAME/DROP COLUMN inside or before the range would make the
    // feed's frames disagree on column identity across versions —
    // Delta blocks CDF reads across column-mapping schema changes too
    require(!columnMapping(dir, Some(toVersion)).active,
      s"the change feed of $dir is unavailable after a RENAME or DROP " +
        "COLUMN (column mapping active) — read snapshots in batch instead")
    def tagged(df: DataFrame, tpe: String, v: Int): DataFrame =
      df.withColumn("_change_type", lit(tpe))
        .withColumn("_commit_version", lit(v.toLong))
    // ONE LogState folded forward across the range: each version's
    // "as live at v-1" deletion-vector view is the fold's state BEFORE
    // applying v — the per-version `state(dir, Some(v-1))` replay was
    // O(versions²) driver IO on long ranges (ADVICE r10)
    val fold = if (fromVersion == 0) new LogState
      else state(dir, Some(fromVersion - 1))
    val frames: Seq[DataFrame] = (fromVersion to toVersion).flatMap { v =>
      val p = versionFile(dir, v)
      if (!Files.exists(p))
        throw new IllegalStateException(
          s"change feed needs raw log entries, but version $v of $dir " +
            "was truncated below a checkpoint — narrow the range to " +
            "retained versions")
      val acts = entryActions(dir, v)
      val removes = acts.collect { case Remove(f) => f }
      // snapshot the v-1 vectors BEFORE advancing the fold (copied only
      // when this version removes files — the one consumer)
      val priorDv: Map[String, (Set[Long], Seq[String])] =
        if (v > 0 && removes.nonEmpty) fold.dv.toMap else Map.empty
      fold.apply(acts)
      if (acts.contains(NoDataChange)) Seq.empty
      else {
        val adds = acts.collect { case a: Add => a.file }
        // vectors THIS version commits, keyed by target file: the same
        // fold over this version's dv/dvf actions alone
        val newDv = {
          val delta = new LogState
          delta.apply(acts.filter(a => a.isInstanceOf[Dv] || a.isInstanceOf[Dvf]))
          delta.dv.toMap
        }
        val addSet = adds.toSet
        val inserts =
          if (adds.isEmpty) Seq.empty
          else Seq(tagged(readFiles(spark, dir, adds, dvFrameFrom(spark, dir,
            newDv.filter { case (f, _) => addSet.contains(f) })), "insert", v))
        val removeDeletes =
          if (removes.isEmpty) Seq.empty
          else {
            val prior = priorDv.filter { case (f, _) => removes.contains(f) }
            Seq(tagged(readFiles(spark, dir, removes,
              dvFrameFrom(spark, dir, prior)), "delete", v))
          }
        val dvDeletes = {
          val onExisting = newDv.filter { case (f, _) => !addSet.contains(f) }
          if (onExisting.isEmpty) Seq.empty
          else {
            val tgt = onExisting.keys.toSeq
            val pos = dvFrameFrom(spark, dir, onExisting).get
            val base = scanUnderLogSchema(spark, dir, tgt, Some(v))
            val cols = base.columns.map(col)
            Seq(tagged(base
              .withColumn("__f", col("_metadata.file_name"))
              .withColumn("__p", col("_metadata.row_index"))
              .join(pos, Seq("__f", "__p"), "left_semi")
              .select(cols.toIndexedSeq: _*), "delete", v))
          }
        }
        removeDeletes ++ dvDeletes ++ inserts
      }
    }
    if (frames.isEmpty)
      tagged(read(spark, dir, Some(toVersion)), "insert", toVersion).limit(0)
    else frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  // ---------------------------------------------------------------------
  // MULTI-TABLE ATOMIC TRANSACTIONS (VERDICT r10 #4): a star-schema load
  // wants fact + dims to land atomically or not at all — the reference's
  // FK-safe load order (`DDL Final.sql:338-352`) done properly. The
  // protocol adds ONE indirection to the single-table log: each
  // participating table's version entry is a single
  // `xref\t<tx file>\t<key>` line pointing at a SHARED transaction file
  // that carries every table's lines under its key, and the tx file is
  // published with the same atomic hard-link claim used for versions.
  // That one link IS the commit point for all tables at once:
  //
  //   - before it exists, every xref entry resolves to NOTHING (the
  //     version is a visible-but-empty hole) — a reader can never see
  //     table A updated and table B not;
  //   - after it exists, every table's entry resolves to its lines;
  //   - a writer crash between claims and publish leaves permanent
  //     no-op holes plus staged orphans — exactly the crash shapes the
  //     protocol already tolerates (vacuum ignores both).
  //
  // Claims hold the version slots, so a concurrent single-table commit
  // either lands BEFORE our claim (we claim the next slot) or AFTER it
  // (they do). A transaction is DECIDED by whichever single atomic
  // create of the tx file happens first: [[publishTx]] writes the
  // lines (commit), [[abortTx]] writes an EMPTY file (abort — every
  // table's entry resolves to a no-op version). A lost claim race
  // aborts this way and throws; version files are NEVER deleted once
  // claimed (a mid-range hole would break every replay — review r11).
  // Checkpoints refuse while an UNDECIDED xref is in range (see
  // [[checkpoint]]); deciding the transaction — either way — unblocks
  // them. Streaming sources never offer an undecided version (the
  // source caps its offers below it), so a consumer cannot skip a
  // transaction's rows by reading inside the claim window.
  // ---------------------------------------------------------------------

  /** Commit `parts` — (table dir, that table's actions) — across ≥1
    * tables as ONE atomic transaction. `txRoot` hosts the shared tx
    * file; it must be reachable from every table dir (same filesystem,
    * like staging). Returns the committed version per table. */
  def commitAllLines(txRoot: String,
      parts: Seq[(String, Seq[LogAction])]): Seq[Int] =
    commitAllImpl(txRoot, parts.map { case (d, l) => (d, l, None) })

  /** As [[commitAllLines]], with a pinned EXPECTED current version per
    * table (optimistic-concurrency for read-modify-write transactions:
    * [[replaceAll]] computes removes from a snapshot and must conflict
    * — not silently half-apply — if another commit lands first). */
  private def commitAllImpl(txRoot: String,
      parts: Seq[(String, Seq[LogAction], Option[Int])]): Seq[Int] = {
    require(parts.nonEmpty, "empty multi-table transaction")
    require(parts.map(p => new File(p._1).getCanonicalPath).distinct.size
      == parts.size, "duplicate table dirs in one transaction")
    new File(txRoot).mkdirs()
    val txName = s"tx-${java.util.UUID.randomUUID().toString.take(12)}.txt"
    // For a table CREATED by this transaction, the SCHEMA line rides in
    // the RAW claim entry, not the shared tx file: a creating
    // transaction that aborts (or dies undecided) must still resolve a
    // schema — otherwise the table "exists" (version 0 claimed) but
    // read() throws "schema unrecoverable" forever (ADVICE r11 #3).
    // The resolved view is identical on publish (entryActions passes
    // raw non-xref lines through); the only visible difference is that
    // an aborted creation leaves a typed EMPTY table — createEmpty's
    // exact shape. EXISTING tables keep their schema lines in the tx
    // file: their schema change (e.g. replaceAll's exact snap) must
    // stay atomic with the data it describes — an abort must not leave
    // a new schema over old rows.
    // the creating decision and the claim target derive from ONE
    // version read per table: deciding "creating" from an earlier read
    // would let a table created in between receive its schema line RAW
    // — surviving an abort over the other writer's rows (review r12 #6)
    val claimed = scala.collection.mutable.ListBuffer.empty[(String, Int)]
    val published = scala.collection.mutable
      .ListBuffer.empty[(String, Seq[LogAction])]
    try {
      parts.zipWithIndex.foreach { case ((dir, lines, expected), i) =>
        new File(dir).mkdirs()
        val cur = expected.getOrElse(currentVersion(dir))
        val (schema, data) =
          if (cur < 0) lines.partition(_.isInstanceOf[Schema])
          else (Seq.empty[LogAction], lines)
        val v = claimVersion(dir, cur + 1, xref(dir, txRoot, txName, i) +: schema)
        claimed += ((dir, v))
        published += ((dir, data))
      }
    } catch {
      case e: Throwable =>
        // lost a claim race: ABORT the transaction atomically — the
        // already-claimed entries become permanent no-op versions.
        // Deleting them instead would leave a mid-range numbering hole
        // if a concurrent writer had already claimed a later slot, and
        // replay crashes on holes (review r11 #1). The abort file
        // carries the participants header so vacuumTxn can establish
        // its referencers like any published file.
        abortTx(txRoot, txName, parts.map(_._1)): Unit
        throw e
    }
    // publish failures (tx file IO error, txRoot deleted, disk full)
    // must not leave the transaction UNDECIDED — an undecided xref
    // blocks checkpoints and stalls every streaming consumer on all
    // participating tables until a manual abortTx (ADVICE r11 #1).
    // abortTx is atomic and idempotent: if the publish link actually
    // landed before the throw, it harmlessly returns false.
    try publishTx(txRoot, txName, published.toSeq)
    catch {
      case e: Throwable =>
        // abort can itself fail on the same broken filesystem — keep
        // the ORIGINAL failure primary, the abort failure suppressed
        try abortTx(txRoot, txName, parts.map(_._1)): Unit
        catch { case e2: Throwable => e.addSuppressed(e2) }
        throw e
    }
    claimed.foreach { case (d, v) => maybeCheckpoint(d, v) }
    claimed.map(_._2).toSeq
  }

  /** Split out for the crash-window spec: create the shared tx file —
    * THE atomic commit point. The first body line is a `!tables`
    * header naming every participant (relative to `txRoot`) so
    * [[vacuumTxn]] can discover reference holders without being handed
    * the list; [[entryActions]] only picks its own keyed actions.
    * Refuses if the transaction was already decided (published or
    * aborted). */
  /** Crash-injection seam for the publish-failure spec (the claimOnly
    * counterpart): when set, the next [[publishTx]] throws BEFORE
    * touching the filesystem — the "disk full / txRoot gone at publish
    * time" window commitAllImpl must auto-abort. */
  private[graft] val failNextPublish =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  private[graft] def publishTx(txRoot: String, txName: String,
      parts: Seq[(String, Seq[LogAction])]): Unit = {
    if (failNextPublish.getAndSet(false))
      throw new java.io.IOException("injected publish failure (spec seam)")
    val body = txHeader(txRoot, parts.map(_._1)) +:
      parts.zipWithIndex.flatMap { case ((_, acts), i) => acts.map(Keyed(i, _)) }
    val tmp = Files.createTempFile(Paths.get(txRoot), ".tx-", ".tmp")
    Files.write(tmp, LogAction.render(body))
    try Files.createLink(Paths.get(txRoot, txName), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"transaction $txName was already decided (published or aborted)")
    } finally Files.deleteIfExists(tmp): Unit
  }

  /** ABORT an undecided multi-table transaction: atomically create its
    * tx file EMPTY, so every participating table's xref entry resolves
    * to a no-op version — one create decides the transaction for ALL
    * tables at once, exactly like [[publishTx]] does for commit (the
    * two race safely: exactly one wins the link). This is both the
    * claim-race rollback and the OPERATOR REPAIR for a writer that
    * died between claims and publish (an undecided transaction blocks
    * checkpoints and stalls streaming consumers at its version —
    * deliberately: deciding it later must not rewrite history a
    * consumer already read). Returns true if THIS call decided the
    * transaction; false if it was already decided. */
  def abortTx(txRoot: String, txName: String,
      participants: Seq[String] = Seq.empty): Boolean = {
    val tmp = Files.createTempFile(Paths.get(txRoot), ".abort-", ".tmp")
    // when the caller knows the participants (the claim-race rollback
    // does), record the `!tables` header so [[vacuumTxn]] can later
    // establish the abort file's referencers and reclaim it; a bare
    // operator abort writes an empty (headerless) file, which vacuumTxn
    // conservatively KEEPS forever rather than risking a reclaim that
    // flips an unscanned table's version back to UNDECIDED
    if (participants.nonEmpty)
      Files.write(tmp, LogAction.render(Seq(txHeader(txRoot, participants)))): Unit
    try { Files.createLink(Paths.get(txRoot, txName), tmp); true }
    catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp): Unit
  }

  /** Does version `v` carry an UNDECIDED xref (a multi-table
    * transaction claimed but neither published nor aborted)? The
    * streaming source caps its offers below such a version — a
    * consumer reading it as empty and moving on would permanently
    * skip the transaction's rows when it later publishes (review
    * r11 #2). */
  private[graft] def versionUndecided(dir: String, v: Int): Boolean =
    Files.exists(versionFile(dir, v)) &&
    LogAction.read(versionFile(dir, v)).exists {
      case Xref(rel, _) => !new File(dir, rel).isFile
      case _ => false
    }

  /** The claim phase alone (crash-window spec hook): returns the
    * tx name + claimed versions WITHOUT publishing. */
  private[graft] def claimOnly(txRoot: String,
      parts: Seq[(String, Seq[LogAction])]): (String, Seq[Int]) = {
    new File(txRoot).mkdirs()
    val txName = s"tx-${java.util.UUID.randomUUID().toString.take(12)}.txt"
    val vs = parts.zipWithIndex.map { case ((dir, _), i) =>
      claimVersion(dir, currentVersion(dir) + 1,
        Seq(xref(dir, txRoot, txName, i)))
    }
    (txName, vs)
  }

  /** The claim entry pointing table `dir` at its key in a tx file. */
  private def xref(dir: String, txRoot: String, txName: String,
      key: Int): Xref = {
    val rel = Paths.get(dir).toAbsolutePath.normalize()
      .relativize(Paths.get(txRoot).toAbsolutePath.normalize())
    Xref(s"$rel${File.separator}$txName", key)
  }

  /** A tx file's participants header, paths relative to `txRoot`. */
  private def txHeader(txRoot: String, dirs: Seq[String]): TxTables =
    TxTables(dirs.map(dir => Paths.get(txRoot).toAbsolutePath.normalize()
      .relativize(Paths.get(dir).toAbsolutePath.normalize()).toString))

  /** Atomically APPEND one frame per table (the fact+dims load): all
    * tables' new files become visible in the same instant or never.
    * Staging + constraint checks run per table up front (a violating
    * batch aborts the WHOLE transaction before any claim); new tables
    * are created at version 0 with their schema recorded. */
  def appendAll(txRoot: String,
      batches: Seq[(DataFrame, String)]): Seq[Int] =
    commitAllLines(txRoot, batches.map { case (df, dir) =>
      dir -> (stageLinesEnforced(df.sparkSession, df, dir)._2 ++
        schemaLine(df, dir))
    })

  /** Atomically REPLACE every table's live set (the FK-safe
    * reset-and-reload): one commit point swaps them all. Each table's
    * removes come from a pinned snapshot version and the claim expects
    * exactly that version — a commit racing in between CONFLICTS
    * (ConcurrentModificationException) instead of leaving its rows
    * silently mixed into the "replaced" table (review r11 #5;
    * single-table replace already had this guarantee). */
  def replaceAll(txRoot: String,
      batches: Seq[(DataFrame, String)]): Seq[Int] =
    commitAllImpl(txRoot, batches.map { case (df, dir) =>
      val cur = currentVersion(dir)
      val removes =
        if (cur < 0) Seq.empty
        else snapshot(dir, Some(cur)).map(Remove)
      (dir,
        removes ++ stageLinesEnforced(df.sparkSession, df, dir)._2 ++
          schemaLine(df, dir, exact = true),
        Some(cur))
    })

  /** Reclaim DECIDED multi-table transaction files under `txRoot` that
    * no surviving raw version entry references anymore — the tx-file
    * counterpart of [[vacuum]]'s sidecar reclamation (without it
    * `txRoot` grows one file per transaction forever). A tx file is
    * needed exactly as long as a raw `xref` entry resolves through it
    * (deleting a still-referenced one would flip its versions back to
    * UNDECIDED); once every referencing entry was truncated below a
    * checkpoint (whose serialized state is already resolved), the file
    * is dead weight.
    *
    * Participants are DISCOVERED from each published file's `!tables`
    * header (review r11 #4: a caller-supplied list with a forgotten
    * table deleted files that table still referenced — committed rows
    * silently vanished). `extraTables` supplements discovery for
    * ABORTED (empty, headerless) files; a headerless file whose
    * referencers cannot be established is conservatively KEPT. The
    * mtime guard protects a transaction racing between claim and
    * decide. */
  def vacuumTxn(txRoot: String, extraTables: Seq[String] = Seq.empty,
      minAgeMs: Long = DefaultVacuumMinAgeMs): Seq[String] = {
    // one raw-log scan per distinct table, memoized: table dir →
    // the tx-file names its surviving raw entries reference
    val refMemo = scala.collection.mutable.HashMap.empty[String, Set[String]]
    def refsOf(dir: String): Set[String] =
      refMemo.getOrElseUpdate(new File(dir).getCanonicalPath, {
        val files = Option(logDir(dir).listFiles()).getOrElse(Array.empty)
        files.filter(_.getName.endsWith(".txt")).flatMap { f =>
          LogAction.read(f.toPath).collect {
            case Xref(rel, _) => new File(rel).getName }
        }.toSet
      })
    val horizon = System.currentTimeMillis() - minAgeMs
    val candidates = Option(new File(txRoot).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("tx-")
        && f.getName.endsWith(".txt") && f.lastModified() <= horizon)
    val victims = candidates.filter { f =>
      val headerTables: Option[Seq[String]] =
        LogAction.read(f.toPath).headOption.collect {
          case TxTables(rels) => rels.map(rel => new File(txRoot, rel).toString)
        }
      headerTables match {
        case Some(ts) =>
          (ts ++ extraTables).forall(d => !refsOf(d).contains(f.getName))
        // headerless (bare operator aborts): participants unknowable —
        // ALWAYS keep; reclaiming on a partial extraTables list could
        // flip an unscanned table's version back to UNDECIDED forever
        // (review r11 #2.5). Claim-race aborts carry the header.
        case None => false
      }
    }.map(_.getName)
    victims.foreach(n => Files.deleteIfExists(Paths.get(txRoot, n)))
    victims.toSeq
  }

  /** Remove a table directory entirely (test/query setup hygiene). */
  def drop(dir: String): Unit = {
    def rec(f: File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rec)
      f.delete(): Unit
    }
    rec(new File(dir))
  }
}
