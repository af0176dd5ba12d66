package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MERGE / UPDATE / DELETE / TRUNCATE and BEGIN/COMMIT/ROLLBACK
  * TRANSACTION on plain-Parquet catalog tables — the engine rewrite SURVEY
  * §7.3 ranks as hard-part #1. [[run]] runs a whole script, the MERGE load
  * method's user-authored one, through [[ScriptRunner]]'s loop with full
  * scripting (DECLARE/SET, IF, loops, procedures, one end-of-script
  * transaction contract); that loop hands its DML and transaction
  * statements to this runner. Spark's built-in MERGE needs a v2 ACID
  * source, so we rewrite to equivalent join plans and overwrite the
  * destination:
  *
  *   MERGE dest S USING (src) N ON cond
  *     WHEN MATCHED [AND c] THEN UPDATE SET a = e, ...
  *     WHEN NOT MATCHED [AND c] THEN INSERT (cols) VALUES (exprs)
  *     WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE
  *
  *   new_dest = (dest LEFT JOIN src ON cond                 -- update/keep/delete
  *               → matched ? updated-projection : dest-row,
  *                 dropped when not-matched-by-source ∧ c)
  *              ∪ (src ANTI JOIN dest ON cond → insert-projection)
  *
  * Covers the user MERGE shape (`samples/tasks/dml/query.sql:1-14`) and
  * the generated ON FALSE templates (`query.py:22-61`). Assumes — like
  * BigQuery MERGE — at most one source match per target row.
  *
  * Scale: the rewrite is one shuffle join + one anti join and a full
  * overwrite of the destination; when the destination is partitioned
  * and the MERGE is the generated partition-replacement, prefer
  * TransformRunner.mergeReplaceTransform which prunes to affected
  * partitions.
  */
class DmlRunner(spark: SparkSession, runner: TransformRunner) {

  // native graft_* expressions must resolve in rewritten SET/WHERE text
  graft.functions.BitSketchExpressions.register(spark)

  private val mergeRe =
    raw"(?is)^\s*MERGE\s+(?:INTO\s+)?`?([\w.$$-]+)`?\s+(?:AS\s+)?(\w+)\s+USING\s*\((.*?)\)\s*(?:AS\s+)?(\w+)\s+ON\s+(.+?)\s+(WHEN\s+.*?)\s*;?\s*$$".r
  // USING a bare table (not a subquery) — routed through the same body
  // with a SELECT * source
  private val mergeTableRe =
    raw"(?is)^\s*MERGE\s+(?:INTO\s+)?`?([\w.$$-]+)`?\s+(?:AS\s+)?(\w+)\s+USING\s+`?([\w.$$-]+)`?\s+(?:AS\s+)?(\w+)\s+ON\s+(.+?)\s+(WHEN\s+.*?)\s*;?\s*$$".r
  // WHEN-clause conditions must not swallow a later clause: the AND
  // condition may contain anything EXCEPT the THEN/WHEN keywords
  private val condBody = raw"((?:(?!\bTHEN\b)(?!\bWHEN\b).)+?)"
  private val whenMatchedRe =
    (raw"(?is)WHEN\s+MATCHED\s*(?:AND\s+" + condBody +
      raw")?\s*THEN\s+UPDATE\s+SET\s+(.+?)(?=\s+WHEN\s+|\s*$$)").r
  private val whenMatchedDeleteRe =
    (raw"(?is)WHEN\s+MATCHED\s*(?:AND\s+" + condBody + raw")?\s*THEN\s+DELETE\b").r
  private val whenNotMatchedRe =
    (raw"(?is)WHEN\s+NOT\s+MATCHED\s*(?:BY\s+TARGET\s*)?(?:AND\s+" + condBody +
      raw")?\s*THEN\s+INSERT\s*\(([^)]*)\)\s*VALUES\s*\((.*?)\)(?=\s+WHEN\s+|\s*;?\s*$$)").r
  private val whenNotMatchedRowRe =
    (raw"(?is)WHEN\s+NOT\s+MATCHED\s*(?:BY\s+TARGET\s*)?(?:AND\s+" + condBody +
      raw")?\s*THEN\s+INSERT\s+ROW\b").r
  private val whenNotMatchedBySourceRe =
    (raw"(?is)WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\s*(?:AND\s+" + condBody +
      raw")?\s*THEN\s+DELETE\b").r
  private val whenNotMatchedBySourceUpdateRe =
    (raw"(?is)WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\s*(?:AND\s+" + condBody +
      raw")?\s*THEN\s+UPDATE\s+SET\s+(.+?)(?=\s+WHEN\s+|\s*;?\s*$$)").r
  private val deleteRe =
    raw"(?is)^\s*DELETE\s+FROM\s+`?([\w.$$-]+)`?(?:\s+(?:AS\s+)?(?!WHERE\b)([A-Za-z_]\w*))?\s+WHERE\s+(.+?)\s*;?\s*$$".r
  private val truncateRe =
    raw"(?is)^\s*TRUNCATE\s+TABLE\s+`?([\w.$$-]+)`?\s*;?\s*$$".r

  // the script loop of run and runStatement; it hands this runner its DML
  // and transaction statements, so they share one transaction
  private lazy val scripts = new ScriptRunner(spark, Some(this))

  def run(script: String): Unit = { scripts.run(script); () }

  def runStatement(stmt: String): Unit = { scripts.runStatement(stmt); () }

  // --- multi-statement transactions (BEGIN/COMMIT/ROLLBACK TRANSACTION) --
  // Parquet has no native MVCC, so atomicity is POINTER-based: the
  // first write to each table inside the transaction pins the table's
  // pre-transaction FILE SET (relative path → directory currently
  // holding the file) plus its SHOW CREATE TABLE DDL — no row is read
  // or copied. In-transaction DML rides the normal [[PartitionCommit]]
  // staged-swap path, whose full-table commits park the displaced
  // pre-write image in a `.graft_snap_*` dir; a listener re-points the
  // pinned entries there and pins the snapshot against pruning.
  // Statements that would physically DESTROY files (DROP TABLE,
  // CREATE OR REPLACE, LOAD DATA OVERWRITE) first move every pinned
  // file into a keep dir beside the table. ROLLBACK rebuilds the
  // table from its DDL and renames the pinned files back — driver-side
  // namespace ops only, O(files) like a FileOutputCommitter job
  // commit, zero rows rewritten; COMMIT deletes the keep dirs and
  // releases the pins. One transaction at a time, as in BigQuery; a
  // crash mid-statement heals through the same journal replay as any
  // other staged commit, then rollback restores the pre-txn set.
  import org.apache.hadoop.fs.Path
  private final class TxnState(val id: String) {
    val pins = scala.collection.mutable.LinkedHashMap.empty[String, TxnPin.Pin]
    val created = scala.collection.mutable.LinkedHashSet.empty[String]
    val pinnedSnaps = scala.collection.mutable.LinkedHashSet.empty[String]
    // where a full-table swap parks the pre-write image: re-point every
    // pinned entry that lived in the table dir to the snapshot dir,
    // pin that snapshot against pruning, and persist the new pointers
    // (the durable pin file is what a post-crash recovery restores from)
    def mkListener(spark: SparkSession): (Path, Path) => Unit = (loc, snap) => {
      pins.valuesIterator.find(_.loc.toString == loc.toString).foreach { pin =>
        PartitionCommit.prunePins.add(snap.toString)
        pinnedSnaps += snap.toString
        pin.index.mapValuesInPlace((_, base) =>
          if (base.toString == loc.toString) snap else base)
        TxnPin.write(spark, pin)
      }
    }
  }
  private var txn: Option[TxnState] = None
  private var txnListener: Option[(Path, Path) => Unit] = None

  private def beginTransaction(): Unit = {
    if (txn.isDefined) throw new IllegalStateException(
      "a transaction is already active; BigQuery allows one transaction at a time")
    val st = new TxnState(java.util.UUID.randomUUID().toString.take(8))
    val l = st.mkListener(spark)
    PartitionCommit.retainListeners.add(l)
    TxnPin.activeTxnIds.add(st.id)
    txnListener = Some(l)
    txn = Some(st)
  }

  private def endTxn(st: TxnState): Unit = {
    txnListener.foreach(PartitionCommit.retainListeners.remove)
    txnListener = None
    TxnPin.activeTxnIds.remove(st.id)
    st.pinnedSnaps.foreach(PartitionCommit.prunePins.remove)
    txn = None
  }

  private def commit(): Unit = {
    val st = txn.getOrElse(
      throw new IllegalStateException("COMMIT without an active transaction"))
    // keep dirs hold pre-txn files displaced by DROP/REPLACE — the
    // transaction committed, so that history is gone for good — and
    // the durable pins are no longer needed
    st.pins.valuesIterator.foreach { pin =>
      pin.keepDir.foreach { kd =>
        val fs = kd.getFileSystem(spark.sessionState.newHadoopConf())
        fs.delete(kd, true)
      }
      TxnPin.delete(spark, pin)
    }
    endTxn(st)
  }

  private def rollback(): Unit = {
    val st = txn.getOrElse(
      throw new IllegalStateException("ROLLBACK without an active transaction"))
    txn = None // clear first: nothing below may re-pin
    try {
      st.created.foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        // a snapshot table created inside the txn leaves no mark behind
        CloneRegistry.unmark(t)
      }
      // per-table restore: heal any crashed mid-statement swap, move
      // the pre-txn files aside, rebuild from DDL, rename them back —
      // [[TxnPin.restore]], the same procedure a post-JVM-crash
      // recovery replays from the durable pin file
      st.pins.valuesIterator.foreach(pin => TxnPin.restore(spark, pin))
    } finally endTxn(st)
  }

  /** Test hook: drop all in-memory transaction state WITHOUT rolling
    * back — simulates the JVM dying mid-transaction. The durable pin
    * files remain on disk as orphans for [[TxnPin.healOrphans]].
    */
  private[engine] def abandonTxnForTest(): Unit = txn.foreach(endTxn)

  // ScriptRunner's loop hands its transaction/DML statements here, so the
  // scripting and DML surfaces compose — these are its seam
  private[engine] def txnOpen: Boolean = txn.isDefined
  private[engine] def rollbackOpenTxn(): Unit = if (txn.isDefined) rollback()

  /** Pin `destFqn`'s pre-statement FILE SET on its first mutation inside
    * the open transaction (no-op outside one, for re-touched tables,
    * and for tables the transaction itself created). Metadata only —
    * one recursive listing, no rows read. A `destructive` statement,
    * which deletes the table's files, first moves the pinned files aside.
    */
  private[engine] def pinForTxn(destFqn: String, destructive: Boolean): Unit = {
    snapshotForTxn(destFqn)
    if (destructive) txn.foreach(_.pins.get(runner.catalogName(destFqn))
      .foreach(pin => TxnPin.moveToKeep(spark, pin)))
  }

  private def snapshotForTxn(destFqn: String): Unit = txn.foreach { st =>
    val cat = runner.catalogName(destFqn)
    if (!st.created.contains(cat) && !st.pins.contains(cat)) {
      if (spark.catalog.tableExists(cat)) {
        // heal any crashed predecessor before listing: a mid-swap dir
        // would pin a half-moved file set
        PartitionCommit.recover(spark, cat)
        val ddl = spark.sql(s"SHOW CREATE TABLE $cat").head().getString(0)
        val loc = PartitionCommit.tableLocation(spark, cat)
        val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
        val preSnaps =
          if (fs.exists(loc))
            fs.listStatus(loc).map(_.getPath.getName).toSeq.filter(n =>
              n.startsWith(".graft_snap_") || n.startsWith(".graft_horizon_"))
          else Seq.empty
        val index = scala.collection.mutable.LinkedHashMap.empty[String, Path]
        listDataFiles(fs, loc).foreach(rel => index(rel) = loc)
        val pin = new TxnPin.Pin(st.id, cat, ddl, loc, preSnaps,
          CloneRegistry.reasonOf(cat), index)
        TxnPin.write(spark, pin) // durable: a dead JVM's txn rolls back
        st.pins(cat) = pin
      } else st.created += cat
    }
  }

  /** Relative paths of the table's data files (hidden `.`/`_` entries
    * excluded at every level, matching Spark's file index).
    */
  private def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      loc: Path): Seq[String] = {
    def walk(p: Path, prefix: String): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { stt =>
        val n = stt.getPath.getName
        if (n.startsWith(".") || n.startsWith("_")) Seq.empty
        else if (stt.isDirectory) walk(stt.getPath, prefix + n + "/")
        else Seq(prefix + n)
      }
    if (fs.exists(loc)) walk(loc, "") else Seq.empty
  }

  /** Matches against the literal/comment-masked statement and reads the
    * capture groups back from the ORIGINAL text — masking is
    * length-preserving, so group offsets carry over. Keeps keywords like
    * USING/ON/WHEN/FROM inside string literals from steering statement
    * recognition (the defense [[UpdateFromStmt]] introduced, applied to
    * every DML route).
    */
  private final class MaskedRe(re: scala.util.matching.Regex) {
    def unapplySeq(stmt: String): Option[List[String]] =
      findMasked(re, stmt).map(_.map(_.orNull).toList)
  }
  private lazy val MergeTable = new MaskedRe(mergeTableRe)
  private lazy val Merge = new MaskedRe(mergeRe)
  private lazy val Delete = new MaskedRe(deleteRe)
  private lazy val Truncate = new MaskedRe(truncateRe)

  private val subqueryRe = raw"(?is)\(\s*SELECT\b".r

  /** Run one DML or transaction statement whose head `h` ScriptRunner's
    * loop read; `stmt` starts at the verb. The loop has already checked
    * the target writable and pinned it for an open transaction.
    */
  private[engine] def execute(h: StatementSplitter.Head, stmt: String): Unit = {
    // heal the target BEFORE the statement resolves its read plan: a
    // crashed predecessor's half-swapped directory — or a dead
    // transaction's intermediate state — must not be captured into the
    // statement's file listing (the listing resolves at plan
    // construction, before overwriteSelf's own pre-heal runs)
    h.name.map(runner.catalogName).filter(spark.catalog.tableExists)
      .foreach(PartitionCommit.recover(spark, _))
    (h.verb, stmt) match {
      case ("BEGIN TRANSACTION", _) => beginTransaction()
      case ("COMMIT", _) => commit()
      case ("ROLLBACK", _) => rollback()
      case ("MERGE", MergeTable(destFqn, tAlias, srcTable, sAlias, onCond, whenClauses)) =>
        merge(destFqn, tAlias, s"SELECT * FROM ${runner.catalogName(srcTable)}",
          sAlias, onCond, whenClauses)
      case ("MERGE", Merge(destFqn, tAlias, srcQuery, sAlias, onCond, whenClauses)) =>
        merge(destFqn, tAlias, srcQuery, sAlias, onCond, whenClauses)
      case ("DELETE", Delete(destFqn, alias, cond)) =>
        // aliased DELETE: references through the alias are the table's
        delete(destFqn, if (alias == null) cond else stripAlias(cond, alias))
      case ("UPDATE", UpdateFromStmt(destFqn, tAlias, sets, fromSrc, cond)) =>
        updateFrom(destFqn, tAlias, sets, fromSrc, cond)
      case ("UPDATE", UpdateStmt(destFqn, alias, sets, cond)) =>
        if (alias == null) update(destFqn, sets, cond)
        else if (subqueryRe.findFirstIn(sets).isDefined ||
                 subqueryRe.findFirstIn(cond).isDefined)
          // correlated-subquery SETs must keep their alias-qualified outer
          // references intact: stripAlias over the whole text would turn
          // `WHERE s.k = a.k` into `s.k = k`, re-resolving the correlation
          // against the INNER table (always-true join → global aggregate
          // instead of the per-key value, silently). The subquery path in
          // update() aliases the outer scan by this statement's alias, so
          // qualified references resolve exactly as BigQuery does.
          update(destFqn, sets, cond, outerAlias = alias)
        else update(destFqn, stripAlias(sets, alias), stripAlias(cond, alias))
      case ("TRUNCATE", Truncate(destFqn)) =>
        // staged-swap empty rewrite, not spark.sql TRUNCATE: (a) inside a
        // transaction the displaced files must survive as pointers for
        // rollback, (b) outside one the old image becomes a time-travel
        // snapshot instead of being destroyed — matching every other
        // whole-table DML here
        val dest = runner.catalogName(destFqn)
        overwriteSelf(dest, spark.table(dest).limit(0))
      case _ => throw new IllegalArgumentException(s"malformed ${h.verb} statement: $stmt")
    }
  }

  /** Literal- and comment-blind copy of a statement: every character
    * inside a '…'/"…" literal, a `--` line comment, or a block comment
    * becomes `x` (length-preserving, so match positions carry back to
    * the original text). Keeps a plain UPDATE whose SET/WHERE mentions
    * ' FROM ' inside a string literal OR a comment from being misrouted
    * to the joined-UPDATE form.
    */
  private def maskLiterals(s: String): String = {
    val sb = new StringBuilder(s)
    var i = 0
    while (i < s.length) {
      val e = SqlLex.regionEnd(s, i)
      if (e < 0) i += 1
      else {
        // a literal keeps its quotes, a line comment its newline, and a
        // backticked name stays whole
        val (from, until) = s.charAt(i) match {
          case '\'' | '"' => (i + 1, e - 1)
          case '-' if s.charAt(e - 1) == '\n' => (i, e - 1)
          case '`' => (e, e)
          case _ => (i, e)
        }
        (from until until).foreach(sb.setCharAt(_, 'x'))
        i = e
      }
    }
    sb.toString
  }

  /** Match `re` against the literal-masked text, reading optional capture
    * groups back from the ORIGINAL string by position (masking is
    * length-preserving). Group g → None when unmatched.
    */
  private def findMasked(re: scala.util.matching.Regex,
      s: String): Option[IndexedSeq[Option[String]]] = findMaskedAt(re, s).map(_._2)

  /** Like [[findMasked]] but also returns the match's start offset —
    * merge() uses the textual order of WHEN clauses for BigQuery's
    * first-match-wins rule within a clause group.
    */
  private def findMaskedAt(re: scala.util.matching.Regex,
      s: String): Option[(Int, IndexedSeq[Option[String]])] =
    re.findFirstMatchIn(maskLiterals(s)).map { m =>
      (m.start, (1 to m.groupCount).map(g =>
        if (m.start(g) < 0) None else Some(s.substring(m.start(g), m.end(g)))))
    }

  /** Plain `UPDATE t [AS a] SET … WHERE …` with a PAREN-AWARE split at
    * the top-level WHERE: a SET value holding a correlated subquery
    * (`SET v = (SELECT … WHERE …)`) must not have the statement cut at
    * the subquery's inner WHERE (the lazy-regex form did exactly that).
    */
  private object UpdateStmt {
    private val headRe =
      raw"(?is)^\s*UPDATE\s+`?([\w.$$-]+)`?(?:\s+(?:AS\s+)?(?!SET\b)([A-Za-z_]\w*))?\s+SET\s".r
    def unapply(stmt: String): Option[(String, String, String, String)] = {
      val masked = maskLiterals(stmt)
      headRe.findFirstMatchIn(masked).flatMap { h =>
        val up = masked.toUpperCase
        var depth = 0
        var i = h.end
        var whereIdx = -1
        while (i < masked.length && whereIdx < 0) {
          masked.charAt(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ =>
              if (depth == 0 && up.startsWith("WHERE", i) &&
                  !Character.isLetterOrDigit(masked.charAt(i - 1)) &&
                  masked.charAt(i - 1) != '_' &&
                  i + 5 < masked.length && masked.charAt(i + 5).isWhitespace)
                whereIdx = i
          }
          i += 1
        }
        if (whereIdx < 0) scala.None
        else Some((
          stmt.substring(h.start(1), h.end(1)),
          if (h.start(2) < 0) null else stmt.substring(h.start(2), h.end(2)),
          stmt.substring(h.end, whereIdx).trim,
          stmt.substring(whereIdx + 6).trim.stripSuffix(";").trim))
      }
    }
  }

  /** UPDATE…FROM recognizer over literal-masked text (FROM/WHERE inside
    * string literals can't steer it). The FROM and the outer WHERE are
    * located by a paren-depth scan — only DEPTH-0 keywords split the
    * statement, so a subquery source with its own WHERE
    * (`FROM (SELECT … WHERE …) src WHERE join-cond`) parses correctly
    * and a FROM inside a SET expression (EXTRACT/SUBSTRING forms) never
    * misroutes a plain UPDATE. Captured pieces are cut from the
    * ORIGINAL text by position (masking is length-preserving).
    */
  private object UpdateFromStmt {
    private val headRe =
      raw"(?is)^\s*UPDATE\s+`?([\w.$$-]+)`?(?:\s+(?:AS\s+)?(\w+))?\s+SET\s".r
    def unapply(stmt: String): Option[(String, Option[String], String, String, String)] = {
      val masked = maskLiterals(stmt)
      headRe.findFirstMatchIn(masked).flatMap { h =>
        val up = masked.toUpperCase
        def boundary(c: Char) = !Character.isLetterOrDigit(c) && c != '_'
        // keyword followed by ANY whitespace (newline/tab included —
        // `SET x = 1 FROM\n src` must still parse as UPDATE…FROM)
        def topLevel(kw: String, from: Int): Int = {
          var depth = 0
          var i = from
          while (i < masked.length) {
            masked.charAt(i) match {
              case '(' => depth += 1
              case ')' => depth -= 1
              case _ =>
                if (depth == 0 && up.startsWith(kw, i) &&
                    (i == 0 || boundary(masked.charAt(i - 1))) &&
                    i + kw.length < masked.length &&
                    masked.charAt(i + kw.length).isWhitespace) return i
            }
            i += 1
          }
          -1
        }
        val fromIdx = topLevel("FROM", h.end)
        val whereIdx = if (fromIdx < 0) -1 else topLevel("WHERE", fromIdx + 5)
        if (fromIdx < 0 || whereIdx < 0) scala.None
        else {
          val dest = stmt.substring(h.start(1), h.end(1))
          val alias = Option(h.group(2)).map(_ => stmt.substring(h.start(2), h.end(2)))
          val sets = stmt.substring(h.end, fromIdx).trim
          val fromSrc = stmt.substring(fromIdx + 5, whereIdx).trim
          val cond = stmt.substring(whereIdx + 6).trim.stripSuffix(";").trim
          Some((dest, alias, sets, fromSrc, cond))
        }
      }
    }
  }

  /** UPDATE t SET … FROM src WHERE join-cond — BigQuery's joined UPDATE.
    * Rows with a source match get the SET expressions (which may read
    * source columns); more than one source match per target row is an
    * error, like BigQuery's "UPDATE/MERGE must match at most one source
    * row for each target row".
    */
  private def updateFrom(destFqn: String, tAliasOpt: Option[String], sets0: String,
      fromSrc: String, cond0: String): Unit = {
    val dest = runner.catalogName(destFqn)
    val tAlias = tAliasOpt.getOrElse(destFqn.replace("`", "").split("\\.").last)
    // BigQuery lets the join condition / SETs reference the target by
    // its FULL name (`db.t.col`); after aliasing, only the alias
    // resolves — re-spell qualified target references onto it
    def unqualify(text: String): String = {
      val spellings = Seq(destFqn.replace("`", ""), dest)
        .filter(_.contains(".")).distinct
      spellings.foldLeft(text) { (t, p) =>
        val ref = new SqlLex.Trigger(
          (raw"(?i)(?<![\w.$$])" + java.util.regex.Pattern.quote(p) + raw"\.").r,
          Seq(p.toUpperCase(java.util.Locale.ROOT) + "."))
        SqlLex.replaceOutside(ref, t)(_ => tAlias + ".")
      }
    }
    val sets = unqualify(sets0)
    val cond = unqualify(cond0)
    // synthetic row id: lets the multi-match guard count matches PER
    // TARGET ROW in the same jobs as the rewrite, instead of comparing
    // two global counts (two extra materializations)
    val destDf = spark.table(dest)
      .withColumn("__graft_rid", monotonically_increasing_id()).alias(tAlias)
    val srcAliasRe = raw"(?is)^(.+?)\s+(?:AS\s+)?(\w+)\s*$$".r
    val (srcText, sAlias) = fromSrc.trim match {
      case s if s.startsWith("(") =>
        // subquery source: alias after the closing paren
        val close = s.lastIndexOf(')')
        val alias = s.substring(close + 1).trim.stripPrefix("AS ").trim
        (s.substring(1, close), if (alias.nonEmpty) alias else "src")
      case srcAliasRe(n, a) => (n, a)
      case n => (n, n.split("\\.").last)
    }
    // non-null marker column: a joined source row whose own columns are
    // ALL NULL is still a match (testing source columns for nullness
    // would treat it as unmatched)
    val srcDf = (if (srcText.trim.toUpperCase.startsWith("SELECT"))
        spark.sql(Dialect.rewrite(srcText))
      else spark.table(runner.catalogName(srcText.trim)))
      .withColumn("__graft_matched", lit(true)).alias(sAlias)
    val joinCond = expr(Dialect.rewrite(cond))
    val joined = destDf.join(srcDf, joinCond, "left")
    if (!joined.groupBy(col("__graft_rid")).agg(count(lit(1)).as("__graft_n"))
        .where(col("__graft_n") > 1).isEmpty)
      throw new IllegalArgumentException(
        "UPDATE/MERGE must match at most one source row for each target row")
    val matched = col("__graft_matched").isNotNull
    val destCols = spark.table(dest).columns
    // keys may carry the target alias (stripped here) and/or a struct
    // field path; unknown heads fail loud in resolveSetPaths
    val byCol = resolveSetPaths(parseSetList(sets), destCols.toIndexedSeq,
      aliases = Seq(tAlias))
    val projected = destCols.map { c =>
      byCol.get(c.toLowerCase) match {
        case Some(entries) =>
          when(matched, applySetEntries(destDf(c), entries)).otherwise(destDf(c)).as(c)
        case None => destDf(c).as(c)
      }
    }
    overwriteSelf(dest, joined.select(projected.toIndexedSeq: _*))
  }

  private def delete(destFqn: String, cond: String): Unit = {
    val dest = runner.catalogName(destFqn)
    val remaining = spark.table(dest).where(not(expr(Dialect.rewrite(cond))))
    // write via checkpoint to avoid reading the table being overwritten
    overwriteSelf(dest, remaining)
  }

  /** UPDATE t SET a = e, … WHERE c — the parquet-table rewrite: rows
    * matching c get the SET expressions, the rest pass through, and
    * the table overwrites itself via the checkpointed write path.
    * Aliased forms arrive either pre-stripped (no subqueries) or with
    * `outerAlias` set (subquery path — the alias must survive so the
    * correlated references resolve against the outer scan).
    */
  private def update(destFqn: String, sets: String, cond: String,
      outerAlias: String = null): Unit = {
    val dest = runner.catalogName(destFqn)
    // correlated/scalar SUBQUERIES in a SET value or the WHERE cannot go
    // through expr() (subqueries are not parseable as lone expressions)
    // — build the same one-projection-over-original-rows semantics as a
    // single SQL statement instead: Spark resolves correlated scalar
    // subqueries in a select list, and the outer alias (the table's
    // bare name) is what BigQuery correlation references.
    if (subqueryRe.findFirstIn(sets).isDefined ||
        subqueryRe.findFirstIn(cond).isDefined) {
      val base0 = spark.table(dest)
      val pairs = parseSetList(sets).map { case (k, v) =>
        // an aliased statement may qualify SET keys (`SET a.v = …`) —
        // that prefix names the outer table, not a struct field
        val bare =
          if (outerAlias != null &&
              k.toLowerCase.startsWith(outerAlias.toLowerCase + "."))
            k.substring(outerAlias.length + 1)
          else k
        if (bare.contains(".")) throw new IllegalArgumentException(
          "struct-field SET paths with subquery values are not supported")
        (bare.toLowerCase, v)
      }
      val known = base0.columns.map(_.toLowerCase).toSet
      pairs.keys.find(!known.contains(_)).foreach(k =>
        throw new IllegalArgumentException(s"no column $k in $dest"))
      val outer =
        if (outerAlias != null) outerAlias
        else destFqn.replace("`", "").split("\\.").last
      val proj = base0.columns.map { name =>
        pairs.get(name.toLowerCase) match {
          case scala.Some(rhs) =>
            s"CASE WHEN (${Dialect.rewrite(cond)}) THEN (${Dialect.rewrite(rhs)}) " +
              s"ELSE `$name` END AS `$name`"
          case scala.None => s"`$name`"
        }
      }
      overwriteSelf(dest,
        spark.sql(s"SELECT ${proj.mkString(", ")} FROM $dest AS $outer"))
      return
    }
    val c = expr(Dialect.rewrite(cond))
    val base = spark.table(dest)
    // one projection over the ORIGINAL row: every SET right-hand side and
    // the WHERE both see pre-update values (SQL UPDATE semantics —
    // `SET a = b, b = a` swaps; a chained withColumn fold would feed
    // later SETs the already-updated earlier columns). Dotted keys are
    // struct-field updates (alias prefixes were stripped at dispatch).
    val byCol = resolveSetPaths(parseSetList(sets),
      base.columns.toIndexedSeq, aliases = Seq.empty)
    val updated = base.select(base.columns.map { name =>
      byCol.get(name.toLowerCase) match {
        case scala.Some(entries) =>
          when(c, applySetEntries(col(name), entries)).otherwise(col(name)).as(name)
        case scala.None => col(name)
      }
    }.toIndexedSeq: _*)
    overwriteSelf(dest, updated)
  }

  private def merge(destFqn: String, tAlias: String, srcQuery: String,
      sAlias: String, onCond: String, whenClauses: String): Unit = {
    val dest = runner.catalogName(destFqn)
    val destDf = spark.table(dest).alias(tAlias)
    val srcDf = spark.sql(Dialect.rewrite(srcQuery)).alias(sAlias)
    val cond = expr(Dialect.rewrite(onCond))
    val destCols = spark.table(dest).columns

    // clause splitting runs on the masked text too: a WHEN/THEN keyword
    // inside a SET or VALUES string literal must not cut a clause short
    val matchedUpdateM = findMaskedAt(whenMatchedRe, whenClauses)
    val matchedDeleteM = findMaskedAt(whenMatchedDeleteRe, whenClauses)
    val matchedUpdate = matchedUpdateM
      .map { case (_, gs) => (gs(0), resolveSetPaths(parseSetList(gs(1).get),
        destCols.toIndexedSeq, aliases = Seq(tAlias))) }
    val matchedDelete = matchedDeleteM.map(_._2(0))
    val notMatchedInsert = findMasked(whenNotMatchedRe, whenClauses)
      .map(gs => (gs(0), SqlLex.items(gs(1).get), SqlLex.items(gs(2).get)))
    val bySourceDeleteM = findMaskedAt(whenNotMatchedBySourceRe, whenClauses)
    val bySourceUpdateM = findMaskedAt(whenNotMatchedBySourceUpdateRe, whenClauses)
    val bySourceDelete = bySourceDeleteM.map(_._2(0))
    val bySourceUpdate = bySourceUpdateM
      .map { case (_, gs) => (gs(0), resolveSetPaths(parseSetList(gs(1).get),
        destCols.toIndexedSeq, aliases = Seq(tAlias))) }

    // BigQuery evaluates the WHEN clauses of a GROUP (matched /
    // not-matched-by-source) in textual order, first-match-wins: a row
    // claimed by an earlier clause never reaches a later one. With one
    // clause per form the only gating needed is on the LATER of an
    // UPDATE/DELETE pair: its predicate also requires the earlier
    // clause's condition to be not-true. An earlier clause WITHOUT a
    // condition would make the later clause unreachable — BigQuery
    // rejects that statement, and so do we (silently-dead clauses are
    // the round-8 loud-accounting rule).
    def firstMatchGuard(me: Option[(Int, IndexedSeq[Option[String]])],
        other: Option[(Int, IndexedSeq[Option[String]])]): Option[Column] =
      (me, other) match {
        case (Some((pMe, _)), Some((pOther, gsOther))) if pOther < pMe =>
          gsOther(0) match {
            case Some(c) =>
              Some(not(coalesce(expr(Dialect.rewrite(c)), lit(false))))
            case scala.None => throw new IllegalArgumentException(
              "MERGE: a WHEN clause without an AND condition must be the " +
                "last clause of its group (the clause after it is unreachable)")
          }
        case _ => scala.None
      }
    val matchedUpdateGuard = firstMatchGuard(matchedUpdateM, matchedDeleteM)
    val matchedDeleteGuard = firstMatchGuard(matchedDeleteM, matchedUpdateM)
    val bySourceUpdateGuard = firstMatchGuard(bySourceUpdateM, bySourceDeleteM)
    val bySourceDeleteGuard = firstMatchGuard(bySourceDeleteM, bySourceUpdateM)
    val insertRow = findMasked(whenNotMatchedRowRe, whenClauses)
    // every WHEN clause in the statement must have been recognized by
    // exactly one of the five forms — an unrecognized clause must fail
    // LOUD here, never silently drop its effect (the round-8 probe
    // caught `…BY SOURCE THEN UPDATE` being ignored)
    locally {
      val total = raw"(?i)\bWHEN\s+(?:NOT\s+)?MATCHED\b".r
        .findAllIn(maskLiterals(whenClauses)).size
      val recognized = Seq(matchedUpdate, matchedDelete, notMatchedInsert,
        bySourceDelete, bySourceUpdate,
        if (notMatchedInsert.isEmpty) insertRow else scala.None).count(_.isDefined)
      if (recognized != total) throw new IllegalArgumentException(
        s"MERGE has $total WHEN clause(s) but only $recognized recognized " +
          "(supported: MATCHED UPDATE/DELETE, NOT MATCHED INSERT(...)/" +
          "INSERT ROW, NOT MATCHED BY SOURCE UPDATE/DELETE; one clause " +
          s"per form): $whenClauses")
    }

    // target side: left join source; matched → updated values, else original.
    // Matched-ness comes from a synthetic always-true marker, not source
    // column nullness — a source row whose columns are all NULL still
    // matches. (The anti-join insert side keeps the marker-free srcDf so
    // INSERT ROW's positional column count stays the source's own.)
    val srcMarked = srcDf.withColumn("__graft_matched", lit(true))
    val joined = destDf.join(srcMarked, cond, "left")
    val matchedFlag = col("__graft_matched").isNotNull
    val updatedCols = destCols.map { c =>
      val base = destDf(c)
      val afterMatched = matchedUpdate match {
        case Some((extraCond, sets)) =>
          val upd = sets.get(c.toLowerCase).map(applySetEntries(base, _)).getOrElse(base)
          val condMatched0 = extraCond
            .map(ec => matchedFlag && expr(Dialect.rewrite(ec))).getOrElse(matchedFlag)
          val condMatched =
            matchedUpdateGuard.map(condMatched0 && _).getOrElse(condMatched0)
          when(condMatched, upd).otherwise(base)
        case None => base
      }
      // BY SOURCE UPDATE: rows with NO source match take these SETs
      // (their expressions may only reference target columns, as in
      // BigQuery — the joined source columns are all NULL there)
      val updated = bySourceUpdate match {
        case Some((extraCond, sets)) => sets.get(c.toLowerCase) match {
          case Some(entries) =>
            val condU0 = extraCond
              .map(ec => not(matchedFlag) && expr(Dialect.rewrite(ec)))
              .getOrElse(not(matchedFlag))
            val condU = bySourceUpdateGuard.map(condU0 && _).getOrElse(condU0)
            when(condU, applySetEntries(base, entries)).otherwise(afterMatched)
          case None => afterMatched
        }
        case None => afterMatched
      }
      updated.as(c)
    }
    // a row DROPS when a matching DELETE clause applies; a NULL clause
    // condition is not-true, so the row is kept (SQL three-valued)
    val dropMatched = matchedDelete.map {
      case Some(c) => matchedFlag && expr(Dialect.rewrite(c))
      case None => matchedFlag
    }.map(d => matchedDeleteGuard.map(d && _).getOrElse(d)).getOrElse(lit(false))
    val dropBySource = bySourceDelete.map {
      case Some(c) => not(matchedFlag) && expr(Dialect.rewrite(c))
      case None => not(matchedFlag) // unconditional: drop every unmatched row
    }.map(d => bySourceDeleteGuard.map(d && _).getOrElse(d)).getOrElse(lit(false))
    val keptFilter =
      not(coalesce(dropMatched, lit(false)) || coalesce(dropBySource, lit(false)))
    val targetSide = joined.where(keptFilter).select(updatedCols.toIndexedSeq: _*)

    // insert side: source rows with no target match
    val insertSide = notMatchedInsert match {
      case Some((extraCond, insCols, insExprs)) =>
        val anti0 = srcDf.join(destDf, cond, "left_anti")
        val anti = extraCond.map(c => anti0.where(expr(Dialect.rewrite(c)))).getOrElse(anti0)
        val colToExpr = insCols.map(_.replace("`", "").trim.toLowerCase).zip(insExprs).toMap
        val projected = destCols.map { c =>
          colToExpr.get(c.toLowerCase)
            .map(e => expr(Dialect.rewrite(stripAlias(e, sAlias))).as(c))
            .getOrElse(lit(null).cast(spark.table(dest).schema(c).dataType).as(c))
        }
        Some(anti.select(projected.toIndexedSeq: _*))
      case None =>
        // INSERT ROW shorthand: every target column takes the source's
        // corresponding column BY POSITION (BigQuery requires matching
        // column counts)
        insertRow.map { gs =>
          val anti0 = srcDf.join(destDf, cond, "left_anti")
          val anti = gs(0)
            .map(c => anti0.where(expr(Dialect.rewrite(c)))).getOrElse(anti0)
          if (anti.columns.length != destCols.length)
            throw new IllegalArgumentException(
              s"INSERT ROW needs the source's ${anti.columns.length} columns to match " +
                s"the target's ${destCols.length}")
          anti.select(destCols.zip(anti.columns).map { case (dc, sc) =>
            col(sc).cast(spark.table(dest).schema(dc).dataType).as(dc)
          }.toIndexedSeq: _*)
        }
    }

    val result = insertSide.map(targetSide.unionByName(_)).getOrElse(targetSide)
    overwriteSelf(dest, result)
  }

  /** `SET a = e, b = f` → map col → expr. Splits on top-level commas. */
  private def parseSetList(sets: String): Map[String, String] =
    SqlLex.items(sets).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k.replace("`", "").trim.toLowerCase -> v.trim
    }.toMap

  /** Resolve SET keys against the destination: an optional table-alias
    * prefix strips, the (next) head must be a destination column, and
    * any remaining parts are a STRUCT FIELD path (`SET s.x = …` updates
    * one field, preserving siblings). A key whose head is neither a
    * column nor an alias fails LOUD — a typo'd or unsupported SET must
    * never silently no-op (the round-9 probe found `SET s.x` being
    * dropped exactly that way). Returns col(lower) → ordered
    * (fieldPath, exprText) entries.
    */
  private def resolveSetPaths(setMap: Map[String, String],
      destCols: Seq[String], aliases: Seq[String])
      : Map[String, Seq[(Seq[String], String)]] = {
    val colSet = destCols.map(_.toLowerCase).toSet
    val out = scala.collection.mutable.LinkedHashMap[String, Vector[(Seq[String], String)]]()
    setMap.foreach { case (k, v) =>
      var parts = k.split("\\.").toSeq
      if (!colSet(parts.head) && parts.length > 1 &&
          aliases.exists(_.equalsIgnoreCase(parts.head)))
        parts = parts.tail
      if (!colSet(parts.head)) throw new IllegalArgumentException(
        s"UPDATE/MERGE SET references unknown column '${parts.head}' (from '$k'); " +
          s"destination columns: ${destCols.mkString(", ")}")
      out(parts.head) = out.getOrElse(parts.head, Vector.empty) :+ ((parts.tail, v))
    }
    out.toMap
  }

  /** Apply resolved SET entries to a column's ORIGINAL value: a
    * whole-column entry replaces it, a field path updates that struct
    * field in place (withField, siblings preserved).
    */
  private def applySetEntries(base: org.apache.spark.sql.Column,
      entries: Seq[(Seq[String], String)]): org.apache.spark.sql.Column =
    entries.foldLeft(base) { case (acc, (path, e)) =>
      val v = expr(Dialect.rewrite(e))
      if (path.isEmpty) v else acc.withField(path.mkString("."), v)
    }

  /** insert VALUES exprs reference the source alias (`N.date`); after the
    * anti-join the frame has bare source columns.
    */
  private def stripAlias(e: String, alias: String): String =
    SqlLex.replaceOutside(SqlLex.nameTrigger(alias + ".", ignoreCase = true), e)(_ => "")

  /** Crash-atomic whole-table rewrite: the complete new contents stage
    * as a plain parquet write under the table location (the live table
    * keeps feeding the plan — no write touches it, so no lineage
    * barrier is needed), then [[PartitionCommit.commitFull]] swaps the
    * directory contents through its two-phase journal. A crash
    * anywhere leaves the destination either fully-old (pre-journal) or
    * replayable-to-fully-new — the durability the reference inherits
    * from BigQuery's atomic DML jobs. A static whole-table overwrite
    * semantics note survives from the pre-staging design: a DELETE
    * that empties a partition DROPS that partition (the swap replaces
    * everything; MSCK syncs the catalog).
    */
  private def overwriteSelf(dest: String, df: DataFrame): Unit = {
    // heal a crashed predecessor BEFORE the staging write scans the
    // table (the scan would otherwise read a mid-swap directory);
    // commitFull re-checks, but by then the stage has already read
    PartitionCommit.recover(spark, dest)
    val partCols = spark.catalog.listColumns(dest).collect()
      .filter(_.isPartition).map(_.name).toSeq
    // align NAMES *AND TYPES* to the catalog schema: a SET expression
    // may be wider than its column (BIGINT into INT) and writing it
    // unchecked leaves files the table's declared schema can't read
    val aligned = df.select(spark.table(dest).schema.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    val stageDir = PartitionCommit.newStageDir(spark, dest)
    val w = aligned.write.mode("overwrite")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
      .parquet(stageDir.toString)
    PartitionCommit.commitFull(spark, dest, stageDir, partCols.nonEmpty)
  }
}
