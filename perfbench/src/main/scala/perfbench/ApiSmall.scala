package perfbench

import java.nio.file.Path
import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.cast.Casts
import graft.config.PipelineConfig
import graft.meta.DatasetInfo
import graft.pipeline.{ApiIngestion, ApiIngestionResult}
import graft.sink.BronzeWriter
import graft.sources.{ApiSource, ApiTransport, HttpTransport}
import graft.validate.Validate

/** `ApiIngestion.run` through `HttpTransport` against a loopback server
  * in this process that serves generated JSONPlaceholder-shaped users
  * and, per `userId`, that user's posts.
  */
final class ApiSmall(seed: Long, root: Path, work: Path) extends Workload {
  import ApiSmall._

  private val mapper = new ObjectMapper()
  private val (usersBody, missingEmails) = renderUsers(mapper, seed)
  private val postsBodies = scala.collection.concurrent.TrieMap.empty[Long, Array[Byte]]
  private def postsBody(userId: Long) = postsBodies.getOrElseUpdate(userId, renderPosts(mapper, seed, userId))

  @volatile private var servedBytes = 0L
  private val server = HttpServer.create(
    new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
  private val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
  server.setExecutor(pool)
  server.createContext("/users", (x: HttpExchange) => reply(x, Some(usersBody)))
  server.createContext("/posts", (x: HttpExchange) => reply(x,
    Option(x.getRequestURI.getQuery).toSeq.flatMap(_.split('&'))
      .collectFirst { case p if p.startsWith("userId=") => p.stripPrefix("userId=").toLongOption }
      .flatten.map(postsBody)))
  server.start()

  private def reply(x: HttpExchange, body: Option[Array[Byte]]): Unit =
    try {
      x.getResponseHeaders.set("Content-Type", "application/json")
      body match {
        case Some(b) =>
          x.sendResponseHeaders(200, b.length.toLong)
          x.getResponseBody.write(b)
          servedBytes += b.length
        case None => x.sendResponseHeaders(400, -1)
      }
    } finally x.close()

  private val baseUrl = s"http://${server.getAddress.getHostString}:${server.getAddress.getPort}"
  private def config(name: String): PipelineConfig = {
    val c = PipelineConfig.fromJsonFile(root.resolve(s"configs/$name").toString)
    c.copy(api = c.api.map(_.copy(baseUrl = baseUrl)), sink = c.sink.copy(baseDir = work.resolve("bronze").toString))
  }
  private val usersCfg = config("simulacao_users.json")
  private val postsCfg = config("simulacao_posts.json")

  /** Counts GETs around the program's transport; one client, so one loopback connection. */
  private object transport extends ApiTransport {
    private val http = new HttpTransport
    var tracer: Tracer = _
    var attempts = 0
    var successes = 0
    var getS = 0.0
    def get(url: String, params: Map[String, String], timeoutSec: Int): String = {
      attempts += 1
      val t0 = System.nanoTime()
      val body = tracer.span("sources.http_get")(http.get(url, params, timeoutSec))
      getS += (System.nanoTime() - t0) / 1e9
      successes += 1
      body
    }
  }

  private val usersLanding = new Landing("users", Users,
    Map("user_id" -> 0L, "nome" -> 0L, "usuario" -> 0L, "email" -> missingEmails), Map.empty)
  private val postsLanding = new Landing("posts", PostsPerUser,
    Map("user_id" -> 0L, "post_id" -> 0L, "titulo" -> 0L, "conteudo" -> 0L),
    Map("user_id" -> TargetId.toString))
  private var last: ApiIngestionResult = _
  private var servedPerOp = 0L

  def confs: Map[String, String] = Map.empty
  val inputBytes: Long = usersBody.length.toLong + postsBody(TargetId).length
  def rowsPerOp: Long = Users + PostsPerUser
  def outputBytes: Long = usersLanding.bytes + postsLanding.bytes

  def op(spark: SparkSession, tr: Tracer): Double = {
    transport.tracer = tr
    val served0 = servedBytes
    val t0 = System.nanoTime()
    last = tr.span("op")(ApiIngestion.run(spark, usersCfg, postsCfg, transport, Target, Landing.RunId, Landing.Clock))
    val s = (System.nanoTime() - t0) / 1e9
    servedPerOp = servedBytes - served0
    s
  }

  def check(): Seq[String] =
    usersLanding.check(last.users.dataFile, last.users.rows) ++
      postsLanding.check(last.posts.dataFile, last.posts.rows) ++
      (if (last.targetUserId == TargetId) Nil else Seq(s"target user id ${last.targetUserId}, expected $TargetId")) ++
      (if (servedPerOp == inputBytes) Nil else Seq(s"served $servedPerOp bytes, expected $inputBytes"))

  override def replay(spark: SparkSession, tr: Tracer): Unit = {
    transport.tracer = tr
    val users = shape(tr.span("sources.ApiSource.fetchDf")(
      ApiSource.fetchDf(spark, usersCfg.api.get, transport, "users")), Seq("id", "name", "username", "email"), usersCfg, tr)
    val userId = tr.span("pipeline.ApiIngestion.resolveTargetUserId")(ApiIngestion.resolveTargetUserId(users, Target))
    val posts = shape(tr.span("sources.ApiSource.fetchDf")(
      ApiSource.fetchDf(spark, postsCfg.api.get, transport, "posts", Map("userId" -> userId.toString))),
      Seq("userId", "id", "title", "body"), postsCfg, tr)
    val partValue = Casts.todayYyyymmdd(Landing.Clock)
    def land(df: DataFrame, cfg: PipelineConfig, endpointKey: String, extra: Map[String, String]): Unit = {
      val dataFile = tr.span("sink.BronzeWriter.write")(BronzeWriter.write(spark, df, cfg.sink, partValue))
      val endpoint = cfg.api.map(a => a.baseUrl + a.endpoints.getOrElse(endpointKey, endpointKey))
      val info = DatasetInfo(cfg.datasetId, cfg.origin, ";", "UTF-8", cfg.sink.partitionKey, partValue,
        Landing.RunId, "graft", endpoint)
      Landing.replayManifest(spark, tr, df, dataFile, info, extra)
    }
    land(users, usersCfg, "users", Map.empty)
    land(posts, postsCfg, "posts", Map("user_id" -> userId.toString))
  }

  /** `ApiIngestion.shape` (private), call by call. */
  private def shape(raw: DataFrame, payloadCols: Seq[String], cfg: PipelineConfig, tr: Tracer): DataFrame = {
    val s = cfg.schema
    val present = payloadCols.filter(raw.columns.contains)
    val renamed = tr.span("cast.Casts.renameColumns")(
      Casts.renameColumns(raw.select(present.map(col): _*), s.renameMap))
    tr.span("validate.Validate.ensureRequiredColumns")(
      Validate.ensureRequiredColumns(renamed, s.requiredColumns.filter(renamed.columns.contains)))
    val cast = tr.span("cast.Casts.applyCasts")(
      Casts.applyCasts(renamed, s.integerFields, s.stringFields, s.floatFields))
    tr.span("validate.Validate.checkDtypes")(
      Validate.checkDtypes(cast, s.integerFields, s.stringFields, s.floatFields))
    cast
  }

  override def counters(): Map[String, Double] = Map(
    "http.attempts" -> transport.attempts.toDouble,
    "http.successes" -> transport.successes.toDouble,
    "http.get_s" -> transport.getS,
    "http.bytes" -> servedBytes.toDouble,
    "bronze.bytes" -> (usersLanding.totalDataBytes + postsLanding.totalDataBytes).toDouble)

  override def close(): Unit = { server.stop(0); pool.shutdownNow() }
}

object ApiSmall {
  val Users = 1000
  val PostsPerUser = 50
  val Target = "Kurtis Weissnat"
  val TargetId = 7L

  private val First = Seq("Leanne", "Ervin", "Clementine", "Patricia", "Chelsey", "Dennis", "Glenna",
    "Nicholas", "Clementina", "Kurtis", "Ana", "Bruno", "Carla", "Diego", "Elisa", "Fabio")
  private val Last = Seq("Graham", "Howell", "Bauch", "Lebsack", "Dietrich", "Schulist", "Reichert",
    "Runolfsdottir", "DuBuque", "Weissnat", "Silva", "Souza", "Costa", "Lima", "Rocha", "Alves")

  /** The users payload and how many users it leaves without an email. */
  def renderUsers(mapper: ObjectMapper, seed: Long): (Array[Byte], Long) = {
    val r = new java.util.Random(seed)
    val arr = mapper.createArrayNode()
    var missing = 0L
    for (id <- 1 to Users) {
      var name = s"${First(r.nextInt(First.size))} ${Last(r.nextInt(Last.size))}"
      while (name == Target) name = s"${First(r.nextInt(First.size))} ${Last(r.nextInt(Last.size))}"
      if (id == TargetId) name = Target
      val user = name.replace(' ', '.') + id
      val o = arr.addObject().put("id", id).put("name", name).put("username", user)
      if (r.nextDouble() < 0.02) missing += 1 else o.put("email", s"${user.toLowerCase}@example.org")
    }
    (mapper.writeValueAsBytes(arr), missing)
  }

  /** One user's posts; bodies span several lines, as JSONPlaceholder's do. */
  def renderPosts(mapper: ObjectMapper, seed: Long, userId: Long): Array[Byte] = {
    val r = new java.util.Random(seed * 1000003L + userId)
    val words = Seq("sunt", "aut", "facere", "repellat", "provident", "occaecati", "excepturi",
      "optio", "reprehenderit", "quia", "et", "suscipit", "recusandae", "consequuntur", "expedita")
    def text(n: Int) = (1 to n).map(_ => words(r.nextInt(words.size))).mkString(" ")
    val arr = mapper.createArrayNode()
    for (k <- 1 to PostsPerUser)
      arr.addObject()
        .put("userId", userId)
        .put("id", (userId - 1) * PostsPerUser + k)
        .put("title", text(3 + r.nextInt(5)))
        .put("body", (1 to 3 + r.nextInt(2)).map(_ => text(6 + r.nextInt(6))).mkString("\n"))
    mapper.writeValueAsBytes(arr)
  }
}
