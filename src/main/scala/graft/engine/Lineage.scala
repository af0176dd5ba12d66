package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

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
      destination: String): Result = {
    val ignored = findDependenciesWithRegex(query, destination).ignored
    val stmts = StatementSplitter.split(query)
    // temp tables DEFINED by the script are intermediate state, not
    // upstream dependencies — a later statement reading one must not
    // report it
    val tempFull = stmts.map(StatementSplitter.head)
      .filter(_.verb == "CREATE TEMP TABLE").flatMap(_.name).toSet
    // short names only shadow UNQUALIFIED references (temp views are
    // single-part); a qualified table that happens to share the last
    // segment is a genuine upstream dependency
    val tempShort = tempFull.map(_.split("\\.").last)
    val deps = stmts.flatMap { stmt =>
      Try(spark.sessionState.sqlParser.parsePlan(
          Dialect.rewrite(stmt, mapFqns = false))).toOption match {
        case Some(plan) =>
          val rels = relationsOf(plan)
          // parsed-but-opaque statements (EXECUTE IMMEDIATE of a query
          // string, IDENTIFIER() clauses) expose no relations at parse
          // level — scan their text, like the reference's fake-select
          // probing of scripts its parser can't see through
          if (rels.nonEmpty) rels
          else findDependenciesWithRegex(stmt, destination).dependencies
        case scala.None =>
          // script statement Catalyst can't parse → regex fallback
          findDependenciesWithRegex(stmt, destination).dependencies
      }
    }
    val ignoredSet = ignored.toSet
    Result(deps.distinct.filterNot(d =>
      d == destination || ignoredSet(d) || tempFull(d) ||
        (!d.contains(".") && tempShort(d))), ignored)
  }

  /** Script-aware lineage: evaluate DECLARE/SET variables the way
    * ScriptRunner does (driver-side scalars, no writes) and extract
    * dependencies from the substituted text — covers scripts whose
    * table references only materialize after variable substitution.
    */
  def findDependenciesInScript(spark: SparkSession, script: String,
      destination: String): Result = {
    val rendered = new ScriptRunner(spark).renderStatements(script).mkString(";\n")
    findDependenciesWithCatalyst(spark, rendered, destination)
  }

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
      cache.put(key, Entry(r, now))
      r
    }
  }

  /** A20: destination URN — `main.go:181-197`. */
  def generateDestinationUrn(project: String, dataset: String, table: String): String =
    s"bigquery://$project:$dataset.$table"
}
