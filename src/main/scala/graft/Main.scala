package graft

import org.apache.spark.sql.SparkSession
import graft.config.PipelineConfig
import graft.pipeline.{ApiIngestion, CsvIngestion, TargetUserNotFound}
import graft.sources.{ApiError, FixtureTransport, HttpTransport}
import graft.validate.SchemaError

/** CLI entry point — the counterpart of the reference's two script
  * mains (reference app/ingestao_csv.py:24, app/ingestao_api.py:133),
  * with the same exit-code contract: 0 ok, 1 unexpected, 2 domain
  * (target user missing / bad usage), 3 schema validation, 4 missing
  * input file.
  *
  * Usage:
  *   graft.Main csv <config.json>
  *   graft.Main api <usersConfig.json> <postsConfig.json> <targetName>
  *     [--fixture users=<path> posts=<path>]   (offline transport)
  */
object Main {

  def main(args: Array[String]): Unit = sys.exit(run(args))

  /** Bad usage, found before any session is built (exit 2). */
  private final class Usage(msg: String) extends RuntimeException(msg)

  def run(args: Array[String], newSession: () => SparkSession = defaultSession): Int =
    try {
      val job = parse(args)
      val spark = newSession()
      try job(spark) finally spark.stop()
      0
    } catch {
      case e: Usage =>
        if (e.getMessage.nonEmpty) System.err.println(e.getMessage)
        usage(); 2
      case e: TargetUserNotFound => System.err.println(s"[graft] ${e.getMessage}"); 2
      case e: SchemaError => System.err.println(s"[graft] schema error: ${e.getMessage}"); 3
      case e @ (_: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException) =>
        System.err.println(s"[graft] input not found: ${e.getMessage}"); 4
      case e @ (_: ApiError | _: org.apache.spark.sql.AnalysisException) =>
        System.err.println(s"[graft] ${e.getMessage}"); 1
    }

  private val defaultSession: () => SparkSession = () => Sessions.create(
    Map("spark.app.name" -> "graft-ingestion") ++ sys.env.get("SPARK_MASTER").map("spark.master" -> _))

  /** Every check that needs no session: subcommand, arity, configs and
    * `--fixture` tokens. Returns the run to do once a session exists. */
  private def parse(args: Array[String]): SparkSession => Unit = args.toList match {
    case "csv" :: cfgPath :: _ =>
      val cfg = PipelineConfig.fromJsonFile(cfgPath)
      spark => {
        val res = CsvIngestion.run(spark, cfg, showPreview = true)
        println(s"[graft] wrote ${res.rows} rows -> ${res.dataFile}")
        println(s"[graft] manifest -> ${res.manifestFile}")
      }
    case "api" :: usersPath :: postsPath :: target :: rest =>
      val usersCfg = PipelineConfig.fromJsonFile(usersPath)
      val postsCfg = PipelineConfig.fromJsonFile(postsPath)
      val transport = rest match {
        case "--fixture" :: tokens =>
          val api = usersCfg.api.getOrElse(
            throw new IllegalArgumentException("config has no api section"))
          new FixtureTransport(tokens.map { kv =>
            kv.split("=", 2) match {
              case Array(k, path) if api.endpoints.contains(k) => (api.baseUrl + api.endpoints(k)) -> path
              case Array(k, _) => throw new Usage(
                s"unknown fixture key '$k' (endpoints: ${api.endpoints.keys.toSeq.sorted.mkString(", ")})")
              case _ => throw new Usage(s"fixture token '$kv' is not <endpoint>=<path>")
            }
          }.toMap)
        case _ => new HttpTransport
      }
      spark => {
        val res = ApiIngestion.run(spark, usersCfg, postsCfg, transport, target,
          showDisplay = true)
        println(s"[graft] users: ${res.users.rows} rows -> ${res.users.dataFile}")
        println(s"[graft] posts(user=${res.targetUserId}): ${res.posts.rows} rows -> ${res.posts.dataFile}")
      }
    case ("csv" | "api") :: _ | Nil | _ :: Nil => throw new Usage("")
    case other :: _ => throw new Usage(s"unknown subcommand: $other")
  }

  private def usage(): Unit = System.err.println(
    """usage: graft.Main csv <config.json>
      |       graft.Main api <usersCfg.json> <postsCfg.json> <targetName>
      |                 [--fixture users=<path> posts=<path>]""".stripMargin)
}
