package graftbench

import scala.collection.immutable.ListMap
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON rendering (Jackson, as Spark ships it) of an object with ordered
  * fields; values may be numbers, strings, options, sequences and maps. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def obj(fields: (String, Any)*): String = mapper.writeValueAsString(ListMap(fields: _*))
}
