package graft.connector

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.connector.read.streaming.Offset
import scala.jdk.CollectionConverters._

/** Streaming offset: per-shard record ordinals, serialized in the
  * reference's JSON shape `{"project#store":{"<shard>":<n>}}` with sorted
  * keys for determinism (LoghubSourceOffset.scala:75-88; ours carries
  * exact ordinals rather than cursor-times, making replays precise —
  * SURVEY.md §7.3 hard part 1). */
case class LogServiceOffset(project: String, store: String,
    shardOrdinals: Map[Int, Long]) extends Offset {

  override def json(): String = {
    val root = LogServiceOffset.Json.createObjectNode()
    val inner = root.putObject(s"$project#$store")
    shardOrdinals.toSeq.sortBy(_._1).foreach { case (s, o) =>
      inner.put(s.toString, o)
    }
    LogServiceOffset.Json.writeValueAsString(root)
  }
}

object LogServiceOffset {
  /** One mapper for every offset: configured once, then thread-safe.
    * Spark serializes and parses offsets on every trigger. */
  private val Json = new ObjectMapper()

  def parse(json: String): LogServiceOffset = {
    val root = Json.readTree(json)
    val field = root.properties().asScala.toSeq.headOption.getOrElse(
      throw new IllegalArgumentException(s"empty offset json: $json"))
    val Array(project, store) = field.getKey.split("#", 2)
    val ords = field.getValue.properties().asScala
      .map(e => e.getKey.toInt -> e.getValue.asLong()).toMap
    LogServiceOffset(project, store, ords)
  }
}
