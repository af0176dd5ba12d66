package graft

import org.scalatest.funsuite.AnyFunSuite

/** An A/B profile must run the conf it was given, or stop. */
class ProfileOneSpec extends AnyFunSuite {
  test("parseConf splits k=v entries on the first '='") {
    assert(ProfileOne.parseConf("a.b=1;c=x=y;") == Seq("a.b" -> "1", "c" -> "x=y"))
  }

  test("parseConf throws on an entry that is not k=v, naming it") {
    val e = intercept[IllegalArgumentException](ProfileOne.parseConf("a=1;spark.sql.adaptive.enabled"))
    assert(e.getMessage.contains("'spark.sql.adaptive.enabled'"))
    intercept[IllegalArgumentException](ProfileOne.parseConf("=1"))
  }
}
