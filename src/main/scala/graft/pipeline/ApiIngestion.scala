package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cast.Casts
import graft.config.PipelineConfig
import graft.meta.{DatasetInfo, Manifest}
import graft.sink.BronzeWriter
import graft.sources.{ApiSource, ApiTransport}

/** End-to-end API ingestion (reference pipeline 1,
  * app/ingestao_api.py:133-244): fetch users → project+rename+clean →
  * validate → find target user by name → fetch that user's posts with
  * the predicate pushed to the source → validate → sorted display →
  * two bronze writes + manifests.
  *
  * The users→posts lookup is relationally
  * `posts SEMI JOIN (SELECT user_id FROM users WHERE nome = ?)`; here
  * the user_id is resolved on the driver (one `head()` on a tiny
  * frame) and pushed into the source request — the same shape as
  * DataSource V2 filter pushdown.
  */
final case class ApiIngestionResult(
    users: IngestionResult,
    posts: IngestionResult,
    targetUserId: Long)

final class TargetUserNotFound(name: String)
  extends RuntimeException(s"target user not found: $name")

object ApiIngestion {

  /** users payload → projected, renamed, typed frame
    * (reference find_users, app/ingestao_api.py:59-84).
    */
  def fetchUsers(
      spark: SparkSession,
      cfg: PipelineConfig,
      transport: ApiTransport): DataFrame = {
    val api = cfg.api.getOrElse(throw new IllegalArgumentException("config has no api section"))
    val raw = ApiSource.fetchDf(spark, api, transport, "users")
    shape(raw, Seq("id", "name", "username", "email"), cfg)
  }

  /** posts payload for one user, predicate pushed into the request
    * (reference find_posts_by_user_id, app/ingestao_api.py:87-111).
    */
  def fetchPostsByUserId(
      spark: SparkSession,
      cfg: PipelineConfig,
      transport: ApiTransport,
      userId: Long): DataFrame = {
    val api = cfg.api.getOrElse(throw new IllegalArgumentException("config has no api section"))
    val raw = ApiSource.fetchDf(spark, api, transport, "posts", Map("userId" -> userId.toString))
    shape(raw, Seq("userId", "id", "title", "body"), cfg)
  }

  /** Project the payload columns present, then conform them. Payload
    * columns are optional: no required-column gate applies here.
    */
  private def shape(raw: DataFrame, payloadCols: Seq[String], cfg: PipelineConfig): DataFrame = {
    val present = payloadCols.filter(raw.columns.contains)
    CsvIngestion.conform(raw.select(present.map(col).toIndexedSeq: _*), cfg, required = Nil)
  }

  /** Scalar lookup: first user whose `nome` equals the target
    * (reference app/ingestao_api.py:161-166). Empty → domain error
    * (reference exits 2).
    */
  def resolveTargetUserId(users: DataFrame, targetName: String): Long = {
    val rows = users.filter(col("nome") === lit(targetName)).select("user_id").head(1)
    if (rows.isEmpty) throw new TargetUserNotFound(targetName)
    rows.head.getLong(0)
  }

  def run(
      spark: SparkSession,
      usersCfg: PipelineConfig,
      postsCfg: PipelineConfig,
      transport: ApiTransport,
      targetName: String,
      runId: String = java.util.UUID.randomUUID().toString,
      clock: java.time.Clock = java.time.Clock.systemDefaultZone(),
      showDisplay: Boolean = false): ApiIngestionResult = {
    val users = fetchUsers(spark, usersCfg, transport)
    val userId = resolveTargetUserId(users, targetName)
    val posts = fetchPostsByUserId(spark, postsCfg, transport, userId)

    if (showDisplay) {
      // reference display block (app/ingestao_api.py:182-187)
      users.orderBy("nome", "usuario").select("nome", "usuario", "email").show(truncate = false)
      val postsShow = posts.orderBy("post_id").select("post_id", "titulo")
      if (postsShow.head(1).isEmpty) println(s"(no posts for user $userId)")
      else postsShow.show(truncate = false)
    }

    val partValue = Casts.todayYyyymmdd(clock)
    def land(df: DataFrame, cfg: PipelineConfig, endpointKey: String,
        extra: Map[String, String]): IngestionResult = {
      val dataFile = BronzeWriter.write(spark, df, cfg.sink, partValue)
      // manifest records the full source URL (reference passes
      // endpoint=url into write_metadata_from_df, app/ingestao_api.py:205-215)
      val endpoint = cfg.api.map(a => a.baseUrl + a.endpoints.getOrElse(endpointKey, endpointKey))
      val info = DatasetInfo(
        datasetId = cfg.datasetId,
        origin = cfg.origin,
        delimiter = ";",
        encoding = "UTF-8",
        partitionKey = cfg.sink.partitionKey,
        partitionValue = partValue,
        runId = runId,
        producer = "graft",
        endpoint = endpoint)
      val m = Manifest.forWrittenFile(spark, df, dataFile, info, extra = extra, clock = clock)
      IngestionResult(dataFile, Manifest.write(spark, m, dataFile), m.schemaStats.rows, Nil)
    }
    val usersRes = land(users, usersCfg, "users", Map.empty)
    val postsRes = land(posts, postsCfg, "posts", Map("user_id" -> userId.toString))
    ApiIngestionResult(usersRes, postsRes, userId)
  }
}
