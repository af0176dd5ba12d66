package graft.core

import java.time.LocalDateTime

import org.scalatest.funsuite.AnyFunSuite
import graft.core.config.AppConfig
import graft.streaming.StreamingOps.Scratch

/** Env-contract cases from `config.py:203-260`. */
class AppConfigSpec extends AnyFunSuite {

  test("ISO-8601 parsing: date, datetime, offset forms") {
    assert(AppConfig.parseDate("2021-01-10") == LocalDateTime.of(2021, 1, 10, 0, 0))
    assert(AppConfig.parseDate("2021-01-10T04:30:00") == LocalDateTime.of(2021, 1, 10, 4, 30))
    assert(AppConfig.parseDate("2021-01-10T04:30:00Z") == LocalDateTime.of(2021, 1, 10, 4, 30))
    assert(AppConfig.parseDate("2021-01-10T07:30:00+03:00") == LocalDateTime.of(2021, 1, 10, 4, 30))
  }

  test("job labels k1=v1,k2=v2") {
    assert(AppConfig.parseJobLabels("owner=optimus,team=de") ==
      Map("owner" -> "optimus", "team" -> "de"))
    assertThrows[IllegalArgumentException](AppConfig.parseJobLabels("owner="))
    assertThrows[IllegalArgumentException](AppConfig.parseJobLabels("=x"))
  }

  test("fromEnv with defaults") {
    val app = AppConfig.fromEnv(Map(
      "DSTART" -> "2021-01-10", "DEND" -> "2021-01-11",
      "EXECUTION_TIME" -> "2021-01-11T01:00:00"))
    assert(app.dstart == LocalDateTime.of(2021, 1, 10, 0, 0))
    assert(!app.dryRun)
    assert(app.jobLabels == Map("owner" -> "optimus"))
    assert(app.xcomPath == AppConfig.DefaultXcomPath)
  }

  test("dry-run forms true/1/yes/y") {
    for (v <- Seq("true", "1", "yes", "Y")) {
      val app = AppConfig.fromEnv(Map("DSTART" -> "2021-01-10",
        "DEND" -> "2021-01-11", "DRY_RUN" -> v))
      assert(app.dryRun, s"DRY_RUN=$v")
    }
  }

  test("missing DSTART raises") {
    assertThrows[IllegalArgumentException](AppConfig.fromEnv(Map("DEND" -> "2021-01-11")))
  }

  test("job dir file discovery") {
    val dir = java.nio.file.Paths.get(Scratch.onDisk("graft_app"))
    val in = dir.resolve("in")
    java.nio.file.Files.createDirectories(in)
    java.nio.file.Files.writeString(in.resolve("query.sql"), "SELECT 1")
    java.nio.file.Files.writeString(in.resolve("spillover_date.sql"), "SELECT d")
    val app = AppConfig.fromEnv(Map("DSTART" -> "2021-01-10",
      "DEND" -> "2021-01-11", "JOB_DIR" -> dir.toString))
    assert(app.sqlFile.exists(_.getFileName.toString == "query.sql"))
    assert(app.spilloverSqlFile.isDefined)
    assert(app.propertiesFile.isEmpty)
  }
}
