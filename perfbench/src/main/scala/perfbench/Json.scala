package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}

/** JSON in and out through the Jackson that ships with Spark. */
object Json {
  private val mapper = {
    val m = new ObjectMapper() with ClassTagExtensions
    m.registerModule(DefaultScalaModule)
    m
  }

  def write(v: Any): String = mapper.writeValueAsString(v)

  def read(path: String): Map[String, Any] =
    mapper.readValue[Map[String, Any]](new java.io.File(path))
}
