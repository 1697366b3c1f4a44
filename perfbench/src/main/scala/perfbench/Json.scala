package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON in and out through the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)

  def read(text: String): JsonNode = mapper.readTree(text)

  def writeFile(path: java.nio.file.Path, v: Any): Unit = {
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(path, write(v))
  }
}
