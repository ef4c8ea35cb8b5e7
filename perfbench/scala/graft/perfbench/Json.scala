package graft.perfbench

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.jdk.CollectionConverters._

/** JSON in and out: inputs are read as a Jackson tree, raw results are
  * written from plain Scala maps, sequences, strings and numbers. NaN and
  * infinities are written as the bare tokens Python's `json` reads. */
object Json {
  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS)
    .build()

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq
  def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong()).toSeq

  def write(v: Any): String = mapper.writeValueAsString(v)
}
