package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON rendering of the harness's result and trace files, through the
  * Jackson (with its Scala module) that Spark ships.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
