package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON codec of the mains: Spark's bundled Jackson with the
  * Scala module, so a Scala `Map` writes as an object, a `Seq` as an
  * array and `None`/`null` as null, with every string escaped. A map
  * writes in its iteration order; build a `ListMap` where a reader sees
  * the order. Reading refuses trailing text after the value.
  */
object Json {

  private val mapper: ObjectMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()

  def write(value: Any): String = mapper.writeValueAsString(value)

  def read(text: String): JsonNode = mapper.readTree(text)

  /** `v` rounded half-up to `places` decimals and written with exactly
    * that many (1.5 -> 1.500).
    */
  def round(v: Double, places: Int = 3): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(places, java.math.RoundingMode.HALF_UP)
}
