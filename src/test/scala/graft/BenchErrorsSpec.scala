package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's stdout line must stay inside the harness's 2000-char tail
  * window however many queries fail: `errors` names only the first few,
  * `errors_n` counts them all. */
class BenchErrorsSpec extends AnyFunSuite {
  test("errors field is capped and counts every failure") {
    assert(Bench.errorsField(Nil) == "\"errors\":[],\"errors_n\":0")
    assert(Bench.errorsField(Seq("q1", "z02")) == "\"errors\":[\"q1\",\"z02\"],\"errors_n\":2")
    val many = (1 to 500).map(i => f"q$i%03d_some_query_name")
    val field = Bench.errorsField(many)
    assert(field.length < 400, s"${field.length} chars")
    assert(field.endsWith("\"errors_n\":500"))
    assert(field.startsWith("\"errors\":[\"q001_some_query_name\","))
  }
}
