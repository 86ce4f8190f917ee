package graft.pipeline

import java.util.concurrent.{ExecutionException, FutureTask}
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.cast.Casts
import graft.config.PipelineConfig
import graft.sources.{ApiSource, ApiTransport}

/** End-to-end API ingestion (reference pipeline 1,
  * app/ingestao_api.py:133-244): fetch users → project+rename+clean →
  * validate → find target user by name → fetch that user's posts with
  * the predicate pushed to the source → validate → sorted display →
  * two bronze writes + manifests.
  *
  * The users→posts lookup is relationally
  * `posts SEMI JOIN (SELECT user_id FROM users WHERE nome = ?)`; here
  * the user_id is resolved on the driver and pushed into the source
  * request — the same shape as DataSource V2 filter pushdown. The
  * payloads are local frames (`ApiSource.fetchDf`), so the lookup's
  * `head()` is evaluated by the optimizer on the driver, and so are the
  * two bronze writes (`BronzeWriter`): a run takes no Spark job.
  *
  * Both frames are fetched, validated and looked up before anything
  * lands. The two landings (bronze write, manifest) then run at the
  * same time, users on its own thread and posts on the caller's, and
  * the run waits for both. If the users landing fails, its exception
  * is rethrown with any posts failure attached as suppressed;
  * otherwise a posts failure is rethrown. Unlike a one-after-the-other
  * run, the posts file can therefore land although the users landing
  * failed.
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

  /** Project the payload columns, then conform them. A column the
    * payload lacks becomes an all-null string column, as the
    * reference's `pd.DataFrame(data, columns=[...])` does
    * (app/ingestao_api.py:70,97), so an empty payload `[]` lands a
    * header-only file. No required-column gate applies here.
    */
  private def shape(raw: DataFrame, payloadCols: Seq[String], cfg: PipelineConfig): DataFrame = {
    val cols = payloadCols.map(c =>
      if (raw.columns.contains(c)) col(c) else lit(null).cast(StringType).as(c))
    CsvIngestion.conform(raw.select(cols: _*), cfg, required = Nil)
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
    // manifest records the full source URL (reference passes
    // endpoint=url into write_metadata_from_df, app/ingestao_api.py:205-215)
    // A payload is a small frame parsed on the driver, which writes it
    // as one part: the bronze file.
    def land(df: DataFrame, cfg: PipelineConfig, endpointKey: String, extra: Map[String, String]) =
      CsvIngestion.land(spark, df, cfg, partValue, runId, clock,
        endpoint = cfg.api.map(a => a.baseUrl + a.endpoints.getOrElse(endpointKey, endpointKey)),
        extra = extra)
    // The two landings share no output, so users lands on a fresh thread
    // while posts lands on this one. A fresh thread inherits this one's
    // SparkContext local properties (job group, scheduler pool, tags);
    // a pooled thread would keep those of whoever created it.
    val usersLanding = new FutureTask(() => land(users, usersCfg, "users", Map.empty))
    new Thread(usersLanding, "graft-users-landing").start()
    val postsRes = Try(land(posts, postsCfg, "posts", Map("user_id" -> userId.toString)))
    val usersRes = Try(usersLanding.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) }
    (usersRes, postsRes) match {
      case (Success(u), Success(p)) => ApiIngestionResult(u, p, userId)
      case (Failure(u), p) => p.failed.foreach(u.addSuppressed); throw u
      case (_, Failure(p)) => throw p
    }
  }
}
