package graft.pipeline

import graft.SparkSpec
import graft.config.PipelineConfig
import graft.sources.{ApiSource, ApiTransport, FixtureTransport, HttpStatusError}
import java.nio.file.Files

class ApiIngestionSpec extends SparkSpec {

  private val clock = java.time.Clock.fixed(
    java.time.Instant.parse("2025-10-20T12:00:00Z"), java.time.ZoneOffset.UTC)

  private def writeFixtures(dir: java.nio.file.Path): (String, String) = {
    val users =
      """[
        |{"id": 7, "name": "Kurtis Weissnat", "username": "Elwyn.Skiles", "email": "k@x.io", "phone": "ignored"},
        |{"id": 1, "name": "Leanne Graham", "username": "Bret", "email": "l@x.io", "phone": "ignored"}
        |]""".stripMargin
    val posts =
      """[
        |{"userId": 7, "id": 61, "title": "voluptatem", "body": "line one\nline two"},
        |{"userId": 7, "id": 62, "title": "beatae", "body": "b; with delimiter"},
        |{"userId": 1, "id": 1, "title": "other user", "body": "x"}
        |]""".stripMargin
    val uf = dir.resolve("users.json"); Files.write(uf, users.getBytes("UTF-8"))
    val pf = dir.resolve("posts.json"); Files.write(pf, posts.getBytes("UTF-8"))
    (uf.toString, pf.toString)
  }

  private def cfgs(
      baseDir: String,
      usersFormat: String = "csv",
      postsFormat: String = "csv"): (PipelineConfig, PipelineConfig) = {
    val users = PipelineConfig.fromJson(
      s"""{
         | "dataset_id": "tb_test_users", "origin": "api-fixture",
         | "api": {"base_url": "https://api.test", "endpoints": {"users": "/users", "posts": "/posts"},
         |         "timeout": 20, "retries": 2},
         | "schema": {
         |   "rename_map": {"id": "user_id", "name": "nome", "username": "usuario", "email": "email"},
         |   "required_columns": ["user_id", "nome", "usuario", "email"],
         |   "integer_fields": ["user_id"],
         |   "string_fields": ["nome", "usuario", "email"]},
         | "sink": {"base_dir": "$baseDir", "table": "tb_test_users", "file_name": "users.txt",
         |          "format": "$usersFormat"}
         |}""".stripMargin)
    val posts = PipelineConfig.fromJson(
      s"""{
         | "dataset_id": "tb_test_posts", "origin": "api-fixture",
         | "api": {"base_url": "https://api.test", "endpoints": {"users": "/users", "posts": "/posts"},
         |         "timeout": 20, "retries": 2},
         | "schema": {
         |   "rename_map": {"userId": "user_id", "id": "post_id", "title": "titulo", "body": "conteudo"},
         |   "required_columns": ["user_id", "post_id", "titulo", "conteudo"],
         |   "integer_fields": ["user_id", "post_id"],
         |   "string_fields": ["titulo", "conteudo"]},
         | "sink": {"base_dir": "$baseDir", "table": "tb_test_posts", "file_name": "posts.txt",
         |          "format": "$postsFormat"}
         |}""".stripMargin)
    (users, posts)
  }

  test("end-to-end: lookup by name drives source-side pushdown; manifests written") {
    val tmp = Files.createTempDirectory("graft-api-test")
    val (uf, pf) = writeFixtures(tmp)
    val transport = new FixtureTransport(Map(
      "https://api.test/users" -> uf,
      "https://api.test/posts" -> pf))
    val (usersCfg, postsCfg) = cfgs(tmp.resolve("bronze").toString)

    val res = ApiIngestion.run(spark, usersCfg, postsCfg, transport,
      targetName = "Kurtis Weissnat", runId = "run-api", clock = clock)

    assert(res.targetUserId === 7L)
    assert(res.users.rows === 2)
    assert(res.posts.rows === 2) // pushdown filtered user 1's post at the source
    assert(res.posts.dataFile.contains("tb_test_posts/anomesdia=20251020/posts.txt"))

    val postsManifest = new String(Files.readAllBytes(
      java.nio.file.Paths.get(res.posts.dataFile + ".manifest.json")), "UTF-8")
    assert(postsManifest.contains("\"user_id\": \"7\"")) // extra section
    // reference-format sidecar: PT key names + endpoint + pandas dtypes
    // (reference app/utils/metadata.py:52-81)
    assert(postsManifest.contains("\"endpoint\": \"https://api.test/posts\""))
    assert(postsManifest.contains("\"linhas\": 2"))
    assert(postsManifest.contains("\"origem\""))
    assert(postsManifest.contains("\"delimitador\""))
    assert(postsManifest.contains("\"Int64\"")) // user_id dtype, pandas name
  }

  test("one run takes 0 jobs (both payloads land on the driver); manifest counts match") {
    val tmp = Files.createTempDirectory("graft-api-jobs")
    val (uf, pf) = writeFixtures(tmp)
    val transport = new FixtureTransport(Map(
      "https://api.test/users" -> uf, "https://api.test/posts" -> pf))
    val (usersCfg, postsCfg) = cfgs(tmp.resolve("bronze").toString)
    val (res, jobs) = countJobs(ApiIngestion.run(spark, usersCfg, postsCfg, transport,
      targetName = "Kurtis Weissnat", runId = "run-jobs", clock = clock))
    assert(jobs === 0)
    assertManifestCountsMatchBronze(res.users.dataFile)
    assertManifestCountsMatchBronze(res.posts.dataFile)
  }

  test("fetching users and resolving the target run no job") {
    val tmp = Files.createTempDirectory("graft-api-lookup")
    val (uf, pf) = writeFixtures(tmp)
    val transport = new FixtureTransport(Map(
      "https://api.test/users" -> uf, "https://api.test/posts" -> pf))
    val (usersCfg, _) = cfgs(tmp.resolve("bronze").toString)
    val (users, fetchJobs) = countJobs(ApiIngestion.fetchUsers(spark, usersCfg, transport))
    val (userId, lookupJobs) = countJobs(ApiIngestion.resolveTargetUserId(users, "Kurtis Weissnat"))
    assert((fetchJobs, lookupJobs) === (0, 0))
    assert(userId === 7L)
  }

  test("users missing email land NULLs; a nested address object is not landed") {
    val tmp = Files.createTempDirectory("graft-api-sparse")
    val (_, pf) = writeFixtures(tmp)
    val uf = tmp.resolve("sparse-users.json")
    Files.write(uf,
      """[
        |{"id": 7, "name": "Kurtis Weissnat", "username": "Elwyn.Skiles",
        | "address": {"street": "Rex Trail", "geo": {"lat": "24.8918", "lng": "21.8984"}}},
        |{"id": 1, "name": "Leanne Graham", "username": "Bret", "email": "l@x.io",
        | "address": {"street": "Kulas Light", "geo": {"lat": "-37.3159", "lng": "81.1496"}}}
        |]""".stripMargin.getBytes("UTF-8"))
    val transport = new FixtureTransport(Map(
      "https://api.test/users" -> uf.toString, "https://api.test/posts" -> pf))
    val (usersCfg, postsCfg) = cfgs(tmp.resolve("bronze").toString)
    val res = ApiIngestion.run(spark, usersCfg, postsCfg, transport,
      targetName = "Kurtis Weissnat", runId = "run-sparse", clock = clock)
    val bronze = new String(Files.readAllBytes(localPath(res.users.dataFile)), "UTF-8")
    assert(bronze === "user_id;nome;usuario;email\n7;Kurtis Weissnat;Elwyn.Skiles;\n1;Leanne Graham;Bret;l@x.io\n")
    val stats = readManifest(res.users.dataFile).get("schema_stats")
    assert(stats.get("nulos").get("email").asLong() === 1L)
    assert(stats.get("preview").get(0).toString ===
      """{"user_id":7,"nome":"Kurtis Weissnat","usuario":"Elwyn.Skiles"}""")
    assertManifestCountsMatchBronze(res.users.dataFile)
  }

  private def landed(bronze: String, table: String, file: String): Boolean =
    Files.exists(java.nio.file.Paths.get(bronze, table, "anomesdia=20251020", file))

  test("the landings run concurrently: a users failure is rethrown, posts still lands") {
    val tmp = Files.createTempDirectory("graft-api-users-fail")
    val (uf, pf) = writeFixtures(tmp)
    val transport = new FixtureTransport(Map(
      "https://api.test/users" -> uf, "https://api.test/posts" -> pf))
    val bronze = tmp.resolve("bronze").toString
    val (usersCfg, postsCfg) = cfgs(bronze, usersFormat = "bogus")
    val e = intercept[IllegalArgumentException] {
      ApiIngestion.run(spark, usersCfg, postsCfg, transport, targetName = "Kurtis Weissnat", clock = clock)
    }
    assert(e.getMessage === "unsupported bronze format: bogus")
    assert(e.getSuppressed.isEmpty)
    assert(landed(bronze, "tb_test_posts", "posts.txt"))
    assert(landed(bronze, "tb_test_posts", "posts.txt.manifest.json"))
    assert(!landed(bronze, "tb_test_users", "users.txt"))

    // both fail: the users error wins and carries the posts error
    val (bothUsers, bothPosts) = cfgs(bronze, usersFormat = "bogus", postsFormat = "bogus-posts")
    val both = intercept[IllegalArgumentException] {
      ApiIngestion.run(spark, bothUsers, bothPosts, transport, targetName = "Kurtis Weissnat", clock = clock)
    }
    assert(both.getMessage === "unsupported bronze format: bogus")
    assert(both.getSuppressed.map(_.getMessage).toSeq === Seq("unsupported bronze format: bogus-posts"))
  }

  test("a posts landing failure is rethrown, and users still lands") {
    val tmp = Files.createTempDirectory("graft-api-posts-fail")
    val (uf, pf) = writeFixtures(tmp)
    val transport = new FixtureTransport(Map(
      "https://api.test/users" -> uf, "https://api.test/posts" -> pf))
    val bronze = tmp.resolve("bronze").toString
    val (usersCfg, postsCfg) = cfgs(bronze, postsFormat = "bogus")
    val e = intercept[IllegalArgumentException] {
      ApiIngestion.run(spark, usersCfg, postsCfg, transport, targetName = "Kurtis Weissnat", clock = clock)
    }
    assert(e.getMessage === "unsupported bronze format: bogus")
    assert(landed(bronze, "tb_test_users", "users.txt"))
    assert(landed(bronze, "tb_test_users", "users.txt.manifest.json"))
  }

  test("a target user with no posts lands a header-only posts file, as the reference does") {
    val tmp = Files.createTempDirectory("graft-api-noposts")
    val (uf, _) = writeFixtures(tmp)
    val pf = tmp.resolve("other-posts.json")
    Files.write(pf, """[{"userId": 1, "id": 1, "title": "other user", "body": "x"}]""".getBytes("UTF-8"))
    val transport = new FixtureTransport(Map(
      "https://api.test/users" -> uf, "https://api.test/posts" -> pf.toString))
    val (usersCfg, postsCfg) = cfgs(tmp.resolve("bronze").toString)

    val res = ApiIngestion.run(spark, usersCfg, postsCfg, transport,
      targetName = "Kurtis Weissnat", runId = "run-noposts", clock = clock)

    assert(res.posts.rows === 0L)
    val bronze = new String(Files.readAllBytes(java.nio.file.Paths.get(
      new org.apache.hadoop.fs.Path(res.posts.dataFile).toUri.getPath)), "UTF-8")
    assert(bronze === "user_id;post_id;titulo;conteudo\n")
    val stats = readManifest(res.posts.dataFile).get("schema_stats")
    assert(stats.get("linhas").asLong() === 0L)
    assert(stats.get("dtypes").get("post_id").asText() === "Int64")
    assert(stats.get("dtypes").get("titulo").asText() === "object")
    Seq("user_id", "post_id", "titulo", "conteudo").foreach(c =>
      assert(stats.get("nulos").get(c).asLong() === 0L, c))
    assert(stats.get("preview").isNull)
  }

  test("missing target user raises TargetUserNotFound") {
    val tmp = Files.createTempDirectory("graft-api-miss")
    val (uf, pf) = writeFixtures(tmp)
    val transport = new FixtureTransport(Map(
      "https://api.test/users" -> uf, "https://api.test/posts" -> pf))
    val (usersCfg, postsCfg) = cfgs(tmp.resolve("bronze").toString)
    intercept[TargetUserNotFound] {
      ApiIngestion.run(spark, usersCfg, postsCfg, transport, targetName = "Nobody")
    }
  }

  test("safeGet honors Retry-After on 429 then succeeds; backoff is capped") {
    var calls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val flaky = new ApiTransport {
      def get(url: String, params: Map[String, String], timeoutSec: Int): String = {
        calls += 1
        if (calls <= 2) throw new HttpStatusError(429, Some("3"))
        """[{"ok": true}]"""
      }
    }
    val body = ApiSource.safeGet(flaky, "u", Map.empty, 1, retries = 2, sleep = sleeps.append(_))
    assert(body.contains("ok"))
    assert(calls === 3)
    assert(sleeps.toSeq === Seq(3000L, 3100L)) // Retry-After 3s + linear jitter
  }

  test("safeGet exhausts retries then raises ApiError") {
    val dead = new ApiTransport {
      def get(url: String, params: Map[String, String], timeoutSec: Int): String =
        throw new HttpStatusError(500, None)
    }
    val e = intercept[graft.sources.ApiError] {
      ApiSource.safeGet(dead, "u", Map.empty, 1, retries = 1, sleep = _ => ())
    }
    assert(e.getMessage.contains("after 2 attempts"))
  }
}
