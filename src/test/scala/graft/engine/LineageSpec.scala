package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** The 22-case regex-lineage corpus ported verbatim from the reference's
  * `main_test.go:302-473`.
  */
class LineageSpec extends AnyFunSuite {
  import LineageSpec.destination

  LineageSpec.corpus.foreach { c =>
    test(c.name) {
      val r = Lineage.findDependenciesWithRegex(c.query, destination)
      assert(r.dependencies.toSet == c.sources, s"sources for: ${c.name}")
      assert(r.ignored.toSet == c.ignored, s"ignored for: ${c.name}")
    }
  }

  test("destination pre-seeded as pseudo table breaks self-cycles") {
    val r = Lineage.findDependenciesWithRegex(
      s"select * from $destination join a.b.c on x", destination)
    assert(r.dependencies.toSet == Set("a.b.c"))
  }

  test("destination URN format") {
    assert(Lineage.generateDestinationUrn("proj", "datas", "tab") ==
      "bigquery://proj:datas.tab")
  }
}

object LineageSpec {
  val destination = "proj.datas.tab"

  final case class Case(name: String, query: String, sources: Set[String],
      ignored: Set[String])

  val corpus: Seq[Case] = Seq(
    Case("simple query",
      "select * from data-engineering.testing.table1",
      Set("data-engineering.testing.table1"), Set()),

    Case("simple query with hyphenated table name",
      "select * from data-engineering.testing.table_name-1",
      Set("data-engineering.testing.table_name-1"), Set()),

    Case("simple query with quotes",
      "select * from `data-engineering.testing.table1`",
      Set("data-engineering.testing.table1"), Set()),

    Case("simple query without project name",
      "select * from testing.table1", Set(), Set()),

    Case("simple query with simple join",
      "select * from data-engineering.testing.table1 join data-engineering.testing.table2 on some_field",
      Set("data-engineering.testing.table1", "data-engineering.testing.table2"), Set()),

    Case("simple query with outer join",
      "select * from data-engineering.testing.table1 outer join data-engineering.testing.table2 on some_field",
      Set("data-engineering.testing.table1", "data-engineering.testing.table2"), Set()),

    Case("subquery",
      "select * from (select order_id from data-engineering.testing.orders)",
      Set("data-engineering.testing.orders"), Set()),

    Case("`with` clause + simple query",
      "with `information.foo.bar` as (select * from `data-engineering.testing.data`) select * from `information.foo.bar`",
      Set("data-engineering.testing.data"), Set()),

    Case("`with` clause with missing project name",
      "with `foo.bar` as (select * from `data-engineering.testing.data`) select * from `foo.bar`",
      Set("data-engineering.testing.data"), Set()),

    Case("project name with dashes",
      "select * from `foo-bar.baz.data`",
      Set("foo-bar.baz.data"), Set()),

    Case("dataset and project name with dashes",
      "select * from `foo-bar.bar-baz.data",
      Set("foo-bar.bar-baz.data"), Set()),

    Case("`with` clause + join",
      "with dedup_source as (select * from `project.fire.fly`) select * from dedup_source join `project.maximum.overdrive` on dedup_source.left = `project.maximum.overdrive`.right",
      Set("project.fire.fly", "project.maximum.overdrive"), Set()),

    Case("double `with` + pseudoreference",
      "with s1 as (select * from internal.pseudo.ref), with internal.pseudo.ref as (select * from `project.another.name`) select * from s1",
      Set("project.another.name"), Set()),

    // beyond the corpus: no whitespace between the clause keyword and the
    // inline comment — the branch dispatch must come from capture groups,
    // not from splitting the matched text on whitespace
    Case("join with inline comment and no separating space",
      "select * from data-engineering.testing.table1 join/* @ignoreupstream */ data-engineering.testing.table2 on some_field",
      Set("data-engineering.testing.table1"),
      Set("data-engineering.testing.table2", "data-engineering:testing.table2")),

    Case("simple query that ignores from upstream",
      "select * from /* @ignoreupstream */ data-engineering.testing.table1",
      Set(), Set("data-engineering.testing.table1", "data-engineering:testing.table1")),

    Case("simple query that ignores from upstream with quotes",
      "select * from /* @ignoreupstream */ `data-engineering.testing.table1`",
      Set(), Set("data-engineering.testing.table1", "data-engineering:testing.table1")),

    Case("simple query with simple join that ignores from upstream",
      "select * from /* @ignoreupstream */ data-engineering.testing.table1 join data-engineering.testing.table2 on some_field",
      Set("data-engineering.testing.table2"),
      Set("data-engineering.testing.table1", "data-engineering:testing.table1")),

    Case("simple query with simple join that has comments but does not ignores upstream",
      "select * from /*  */ data-engineering.testing.table1 join data-engineering.testing.table2 on some_field",
      Set("data-engineering.testing.table1", "data-engineering.testing.table2"), Set()),

    Case("simple query with simple join that ignores upstream of join",
      "select * from data-engineering.testing.table1 join /* @ignoreupstream */ data-engineering.testing.table2 on some_field",
      Set("data-engineering.testing.table1"),
      Set("data-engineering.testing.table2", "data-engineering:testing.table2")),

    Case("ignoreupstream for an alias should still consider it as dependency",
      """
        |WITH my_temp_table AS (
        |  SELECT id, name FROM data-engineering.testing.an_upstream_table
        |)
        |SELECT id FROM /* @ignoreupstream */ my_temp_table
        |""".stripMargin,
      Set("data-engineering.testing.an_upstream_table"), Set()),

    Case("alias in the actual name rather than with alias",
      """
        |WITH my_temp_table AS (
        |  SELECT id, name FROM /* @ignoreupstream */ data-engineering.testing.an_upstream_table
        |)
        |SELECT id FROM my_temp_table
        |""".stripMargin,
      Set(), Set("data-engineering.testing.an_upstream_table", "data-engineering:testing.an_upstream_table")),

    Case("ignoreupstream inside and outside the with clause",
      "WITH my_temp_table AS ( SELECT id, name FROM /* @ignoreupstream */ data-engineering.testing.an_upstream_table ) SELECT id FROM /* @ignoreupstream */ my_temp_table",
      Set(), Set("data-engineering.testing.an_upstream_table", "data-engineering:testing.an_upstream_table")),

    Case("query inside comment",
      """
        |select * from data-engineering.testing.tableABC
        |-- select * from data-engineering.testing.table1 join data-engineering.testing.table2 on some_field
        |""".stripMargin,
      Set("data-engineering.testing.tableABC"), Set()),

    Case("query inside comment and a join that uses helper",
      """
        |select * from data-engineering.testing.tableABC
        |/* select * from data-engineering.testing.table1 join data-engineering.testing.table2 on some_field */
        |join /* @ignoreupstream */ data-engineering.testing.table2 on some_field
        |""".stripMargin,
      Set("data-engineering.testing.tableABC"),
      Set("data-engineering.testing.table2", "data-engineering:testing.table2"))
  )
}
