package graft.pipeline

import graft.Main
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** `Main.run` rejects bad usage with exit 2 before any session exists.
  * Each case hands `run` a session factory that fails the test, so a
  * check that slips past the parse step cannot stop a shared session.
  */
class MainArgsSpec extends AnyFunSuite {

  private def run(args: String*): Int =
    Main.run(args.toArray, () => fail(s"built a session for ${args.mkString(" ")}"))

  private lazy val cfg: String = {
    val f = Files.createTempFile("graft-api", ".json")
    Files.writeString(f,
      """{"dataset_id": "users", "origin": "test",
        | "api": {"base_url": "http://localhost:1", "endpoints": {"users": "/users", "posts": "/posts"}},
        | "sink": {"base_dir": "/tmp/unused", "table": "users", "file_name": "users.txt"}}""".stripMargin)
    f.toString
  }

  test("too few arguments and unknown subcommands exit 2") {
    assert(run() == 2)
    assert(run("csv") == 2)
    assert(run("ingest", cfg) == 2)
  }

  test("api with fewer than four arguments exits 2") {
    assert(run("api", cfg, cfg) == 2)
  }

  test("a --fixture token without '=' exits 2") {
    assert(run("api", cfg, cfg, "Leanne Graham", "--fixture", "users=/tmp/u.json", "posts") == 2)
  }

  test("a --fixture key that is not an endpoint exits 2") {
    assert(run("api", cfg, cfg, "Leanne Graham", "--fixture", "users=/tmp/u.json", "post=/tmp/p.json") == 2)
  }
}
