package graft.sources

import graft.SparkSpec
import graft.config.ApiConfig

/** `ApiSource.fetchDf` parses the payload on the driver into a local
  * frame. `spark.read.json` on a one-element Dataset, which infers the
  * schema in a job, is the reference: on each payload both give the
  * same schema and rows, and a payload the reference reads as corrupt
  * raises `ApiError`.
  */
class ApiSourceSpec extends SparkSpec {
  import spark.implicits._

  private val api = ApiConfig("https://api.test", Map("users" -> "/users"))

  private def fetch(body: String) =
    ApiSource.fetchDf(spark, api, (_, _, _) => body, "users")

  private def reference(body: String) = spark.read.json(spark.createDataset(Seq(body)))

  private val payloads = Seq(
    "JSONPlaceholder users: nested address and company, extra fields" ->
      """[
        |{"id": 1, "name": "Leanne Graham", "username": "Bret", "email": "Sincere@april.biz",
        | "address": {"street": "Kulas Light", "geo": {"lat": "-37.3159", "lng": "81.1496"}},
        | "phone": "1-770-736-8031 x56442", "company": {"name": "Romaguera-Crona"}},
        |{"id": 7, "name": "Kurtis Weissnat", "username": "Elwyn.Skiles", "email": "Telly.Hoeger@billy.biz",
        | "address": {"street": "Rex Trail", "geo": {"lat": "24.8918", "lng": "21.8984"}},
        | "phone": "210.067.6132", "company": {"name": "Johns Group"}}
        |]""".stripMargin,
    "records missing email" ->
      """[{"id": 1, "name": "a", "username": "u1", "email": "a@x.io"},
        | {"id": 2, "name": "b", "username": "u2"},
        | {"id": 3, "name": "c", "username": "u3", "email": null}]""".stripMargin,
    "a single-object root" -> """{"id": 7, "name": "Kurtis", "username": "E", "email": "k@x.io"}""",
    "an empty array" -> "[]",
    "a float in an integer field" -> """[{"id": 1, "score": 3}, {"id": 2.5, "score": 4}]""",
    "an integer beyond bigint" -> """[{"id": 12345678901234567890}, {"id": 1}]""",
    "fields out of order, all-NULL and empty-object fields" ->
      """[{"z": 1, "a": null, "m": {}, "b": [1, 2]}, {"a": null, "z": 2, "c": "x\n\"y\""}]""",
    "a null root" -> "null",
    "nested arrays of objects" -> """[[{"a": 1}], [{"b": 2}]]""",
    "unicode and escapes" -> """[{"t": "São Tomé é \\ \t", "n": -0.0, "e": 1e3, "f": true}]""",
  )

  payloads.foreach { case (name, body) =>
    test(s"payload on the driver, $name: no job; spark.read.json's schema and rows") {
      val (df, jobs) = countJobs(fetch(body))
      assert(jobs === 0)
      val want = reference(body)
      assert(df.schema === want.schema)
      assert(df.collect().toSeq === want.collect().toSeq)
      assert(df.columns.forall(c => !c.startsWith("_corrupt")))
    }
  }

  private val malformed = Seq(
    "truncated" -> """[{"id": 1, "name": "a"""",
    "not JSON" -> "<html>502 Bad Gateway</html>",
    "an array of numbers" -> "[1, 2]",
    "a string root" -> "\"users\"",
    "a number root" -> "5",
    "objects mixed with a number" -> """[{"id": 1}, 2]""",
  )

  malformed.foreach { case (name, body) =>
    test(s"unparseable payload, $name: ApiError, where the reference has a corrupt record") {
      assert(reference(body).columns.contains("_corrupt_record"))
      val e = intercept[ApiError](fetch(body))
      assert(e.getMessage === "endpoint 'users' returned unparseable JSON")
    }
  }

  test("integer fields are bigint, as spark.read.json infers them; an object root is one row") {
    for (body <- Seq("""[{"id": 1, "userId": 7}]""", """{"userId": 7, "id": 1}""")) {
      val df = fetch(body)
      assert(df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq ===
        Seq("id" -> "bigint", "userId" -> "bigint"))
      assert(df.as[(Long, Long)].collect().toSeq === Seq((1L, 7L)))
    }
  }
}
