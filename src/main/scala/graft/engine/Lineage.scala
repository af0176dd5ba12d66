package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.internal.SQLConf

import scala.collection.concurrent.TrieMap
import scala.util.Try

/** SQL lineage extraction — A21–A23.
  *
  * Primary path: parse with Catalyst (`sessionState.sqlParser.parsePlan`)
  * and collect `UnresolvedRelation`s minus CTE names — the Spark-native
  * replacement for the reference's BigQuery dry-run (`main.go:439-498`).
  *
  * Regex path: verbatim port of `FindDependenciesWithRegex`
  * (`main.go:347-437`) — FROM/JOIN/WITH three-part matches, comment
  * stripping that preserves the block-comment `@word` helper tokens,
  * WITH names as pseudo-tables, `@ignoreupstream` annotations,
  * destination pre-seeded to break self-cycles. Used for scripts
  * Catalyst can't parse and for the annotation semantics Catalyst has
  * no notion of.
  */
object Lineage {

  final case class Result(dependencies: Seq[String], ignored: Seq[String])

  // --- regex port (main.go:41-60) --------------------------------------
  private val tablePattern =
    ("(?i)(?:FROM)\\s*(?:/\\*\\s*([a-zA-Z0-9@_-]*)\\s*\\*/)?\\s+`?([\\w-]+)\\.([\\w-]+)\\.([\\w-]+)`?" +
      "|" +
      "(?i)(?:JOIN)\\s*(?:/\\*\\s*([a-zA-Z0-9@_-]*)\\s*\\*/)?\\s+`?([\\w-]+)\\.([\\w-]+)\\.([\\w-]+)`?" +
      "|" +
      "(?i)(?:WITH)\\s*(?:/\\*\\s*([a-zA-Z0-9@_-]*)\\s*\\*/)?\\s+`?([\\w-]+)\\.([\\w-]+)\\.([\\w-]+)`?\\s+(?:AS)").r

  private val commentPattern = "(--.*)|(((/\\*)+?[\\w\\W]*?(\\*/)+))".r
  private val helperPattern = "(\\/\\*\\s*(@[a-zA-Z0-9_-]+)\\s*\\*\\/)".r

  def findDependenciesWithRegex(queryString0: String, destination: String): Result = {
    val tablesFound = scala.collection.mutable.LinkedHashSet[String]()
    val pseudoTables = scala.collection.mutable.Set[String](destination)
    val tablesIgnored = Seq.newBuilder[String]

    // strip comments, preserving helper annotations (main.go:384-396)
    var queryString = queryString0
    commentPattern.findAllMatchIn(queryString0).foreach { m =>
      val full = m.group(0)
      val block = m.group(2)
      if (block == null || !helperPattern.pattern.matcher(block).find())
        queryString = queryString.replace(full, " ")
    }

    tablePattern.findAllMatchIn(queryString).foreach { m =>
      // pick the alternation branch by which mandatory capture group is
      // non-null (like the Go reference's group-index dispatch) — splitting
      // group(0) on whitespace misidentifies "JOIN/*c*/ t" (no space before
      // the inline comment) as clause "join/*c*/"
      val (clause, ignoreIdx, projIdx, dsIdx, nameIdx) =
        if (m.group(2) != null) ("from", 1, 2, 3, 4)
        else if (m.group(6) != null) ("join", 5, 6, 7, 8)
        else ("with", 9, 10, 11, 12)
      val table = s"${m.group(projIdx)}.${m.group(dsIdx)}.${m.group(nameIdx)}"
      val annotation = Option(m.group(ignoreIdx)).map(_.trim).getOrElse("")
      if (annotation == "@ignoreupstream") {
        tablesIgnored += table
        tablesIgnored += s"${m.group(projIdx)}:${m.group(dsIdx)}.${m.group(nameIdx)}"
      } else if (clause == "with") {
        pseudoTables += table
      } else {
        tablesFound += table
      }
    }
    Result(tablesFound.toSeq.filterNot(pseudoTables), tablesIgnored.result())
  }

  // --- Catalyst path ----------------------------------------------------

  /** Collect source tables by parsing (not executing) the SQL. CTE names
    * are excluded (the analyzer scopes them; at parse level we collect
    * them from the UnresolvedWith/CTE nodes), as is the destination.
    */
  def findDependenciesWithCatalyst(spark: SparkSession, query: String,
      destination: String): Result =
    findDependenciesWithCatalyst(spark, StatementSplitter.split(query), destination)

  /** Script-aware lineage: evaluate DECLARE/SET variables the way
    * ScriptRunner does (driver-side scalars, no writes) and extract
    * dependencies from the substituted text — covers scripts whose
    * table references only materialize after variable substitution.
    */
  def findDependenciesInScript(spark: SparkSession, script: String,
      destination: String): Result =
    findDependenciesWithCatalyst(spark, new ScriptRunner(spark).renderStatements(script),
      destination)

  /** The Catalyst path over statements already split: each statement is
    * handed on as it is, never joined to its neighbours and split again
    * (a statement ending in a `--` comment would swallow the `;`).
    */
  private def findDependenciesWithCatalyst(spark: SparkSession, stmts: Seq[String],
      destination: String): Result = {
    val regex = stmts.map(findDependenciesWithRegex(_, destination))
    val ignored = regex.flatMap(_.ignored)
    val heads = stmts.map(StatementSplitter.head)
    // temp tables DEFINED by the script are intermediate state, not
    // upstream dependencies — a later statement reading one must not
    // report it
    val tempFull = heads.filter(_.verb == "CREATE TEMP TABLE").flatMap(_.name).toSet
    // short names only shadow UNQUALIFIED references (temp views are
    // single-part); a qualified table that happens to share the last
    // segment is a genuine upstream dependency
    val tempShort = tempFull.map(_.split("\\.").last)
    val deps = stmts.lazyZip(heads).lazyZip(regex).flatMap { (stmt, head, rx) =>
      // Spark rejects CREATE TEMP TABLE only after a full parse, so the
      // temp table's query is parsed on its own
      val text = if (head.verb != "CREATE TEMP TABLE") stmt else head.body(stmt) match {
        case ScriptRunner.createTempRe(n1, q1, _, q2) => if (n1 != null) q1 else q2
        case _ => stmt
      }
      relations(spark, text) match {
        case Some(rels) if rels.nonEmpty => rels
        // a statement Catalyst can't parse, or a parsed-but-opaque one
        // (EXECUTE IMMEDIATE of a query string, IDENTIFIER() clauses)
        // that exposes no relations at parse level: scan its text, like
        // the reference's fake-select probing of scripts its parser
        // can't see through
        case _ => rx.dependencies
      }
    }
    val ignoredSet = ignored.toSet
    Result(deps.distinct.filterNot(d =>
      d == destination || ignoredSet(d) || tempFull(d) ||
        (!d.contains(".") && tempShort(d))), ignored)
  }

  // --- relation cache ---------------------------------------------------
  // A job's statements repeat from run to run (a hot window, a loop
  // body), and the Catalyst parse is the bulk of lineage: each distinct
  // statement is parsed once and only its relation names are kept,
  // never the plan.
  //
  // CACHE SOUNDNESS INVARIANT: the key holds everything that decides
  // whether a rewritten text parses and how it names a table — the
  // session parser's class (extensions may swap it) and the SqlApiConf
  // flags the parser reads: ansiEnabled, enforceReservedKeywords,
  // doubleQuotedIdentifiers (`"ds"."t"` is a name or a string) and
  // legacyIdentifierClauseOnly. A text containing `${` bypasses the
  // cache, because SparkSqlParser substitutes session confs into it
  // before parsing, so the same text can name different tables. The
  // text is the String Dialect's rewrite cache already holds, so the key
  // copies nothing.
  private final case class ParseKey(parser: Class[_], ansi: Boolean, reserved: Boolean,
      doubleQuoted: Boolean, legacyIdentifier: Boolean, text: String)
  // a job's hot statements plus room for the ones seen once, which a
  // clear sweeps out: steadybench compile_lineage repeats about 100
  // statements, and 512 entries (at most ~0.35 MB) hit 52% of lookups
  // where 2,048 hit 53%
  private val RelationCacheMax = 512
  private val relationCache = TrieMap[ParseKey, Option[Seq[String]]]()

  /** The relations of `stmt` after the Dialect rewrite, or None when
    * Catalyst can't parse it.
    */
  private def relations(spark: SparkSession, stmt: String): Option[Seq[String]] = {
    val text = Dialect.rewrite(stmt, mapFqns = false)
    val parser = spark.sessionState.sqlParser
    def parse() = Try(parser.parsePlan(text)).toOption.map(relationsOf)
    if (text.contains("${")) parse()
    else {
      val conf = SQLConf.get
      val key = ParseKey(parser.getClass, conf.ansiEnabled, conf.enforceReservedKeywords,
        conf.doubleQuotedIdentifiers, conf.legacyIdentifierClauseOnly, text)
      relationCache.getOrElse(key, {
        if (relationCache.size > RelationCacheMax) relationCache.clear()
        val rels = parse()
        relationCache.put(key, rels)
        rels
      })
    }
  }

  /** Empties the relation cache, so a test can compare with a cold one. */
  private[graft] def clearRelationCache(): Unit = relationCache.clear()

  private def relationsOf(plan: LogicalPlan): Seq[String] = {
    val cteNames = scala.collection.mutable.Set[String]()
    val rels = Seq.newBuilder[String]
    // CTE definitions are innerChildren of UnresolvedWith (not visited by
    // foreach), so traverse them explicitly.
    val queue = scala.collection.mutable.Queue[LogicalPlan](plan)
    while (queue.nonEmpty) {
      queue.dequeue().foreach {
        case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
          cteNames ++= w.cteRelations.map(_._1)
          queue ++= w.cteRelations.map(_._2)
        case r: UnresolvedRelation => rels += r.multipartIdentifier.mkString(".")
        case _ =>
      }
    }
    rels.result().filterNot(r => cteNames.contains(r))
  }

  /** Analyzer-level resolution — the Spark-native replacement for the
    * reference's BigQuery dry-run (`FindDependenciesWithDryRun`,
    * `main.go:465-498`): views are expanded to their base tables by the
    * analyzer, so collecting leaf catalog relations of the ANALYZED plan
    * yields true physical dependencies.
    */
  def findDependenciesWithAnalyzer(spark: SparkSession, query: String): Seq[String] = {
    val analyzed = spark.sql(query).queryExecution.analyzed
    val deps = Seq.newBuilder[String]
    analyzed.foreach {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.catalogTable.foreach(t => deps += t.identifier.unquotedString)
      case h: org.apache.spark.sql.catalyst.catalog.HiveTableRelation =>
        deps += h.tableMeta.identifier.unquotedString
      case _ =>
    }
    deps.result().map(_.stripPrefix("spark_catalog.")).distinct
  }

  // --- cache (main.go:527-557; TTL semantics kept, cleanup implicit) ----
  private case class Entry(result: Result, at: Long)
  // keyed by the (query, destination) pair itself, not its hashCode — an
  // Int key would let colliding pairs serve each other's cached lineage
  private val cache = TrieMap[(String, String), Entry]()
  val CacheTtlMillis: Long = 24L * 3600 * 1000
  // the TTL is checked only on read, so the size is bounded as well,
  // clearing on overflow like Dialect's rewrite cache
  private[graft] val CacheMax = 2048
  private[graft] def cacheSize: Int = cache.size

  def cached(spark: SparkSession, query: String, destination: String): Result =
    cachedAt(spark, query, destination, System.currentTimeMillis())

  /** clock-injectable body of [[cached]] (TTL behavior is spec-tested
    * with a controlled `now`).
    */
  private[graft] def cachedAt(spark: SparkSession, query: String,
      destination: String, now: Long): Result = {
    val key = (query, destination)
    cache.get(key).filter(e => now - e.at < CacheTtlMillis).map(_.result).getOrElse {
      val r = findDependenciesWithCatalyst(spark, query, destination)
      if (cache.size > CacheMax) cache.clear()
      cache.put(key, Entry(r, now))
      r
    }
  }

  /** A20: destination URN — `main.go:181-197`. */
  def generateDestinationUrn(project: String, dataset: String, table: String): String =
    s"bigquery://$project:$dataset.$table"
}
