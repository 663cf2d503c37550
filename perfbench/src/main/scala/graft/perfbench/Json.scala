package graft.perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the harness's raw results and the small inputs it is handed,
  * through the Jackson (with its Scala module) that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)

  /** Flat JSON object of string values. */
  def readStringMap(path: String): Map[String, String] =
    mapper.readValue(new File(path), classOf[Map[String, String]])
}
