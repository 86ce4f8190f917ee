package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

object Json {
  private val mapper = new ObjectMapper()

  def str(s: String): String = mapper.writeValueAsString(s)

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def read(path: java.nio.file.Path): JsonNode = mapper.readTree(path.toFile)
}
