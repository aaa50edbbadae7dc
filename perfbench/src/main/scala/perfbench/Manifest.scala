package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The share fixtures written by `datagen.py`: per table its partition
  * columns and files, each with size, partition values, Delta stats
  * JSON and the footer and per-column compressed chunk bytes. */
final case class Manifest(tables: Map[String, Manifest.Table]) {
  private lazy val byPath = tables.values.flatMap(_.files).map(f => f.path -> f).toMap

  /** Bytes a reader of `cols` must fetch from file `path`: its footer
    * plus those columns' chunks. */
  def neededBytes(path: String, cols: Set[String]): Long =
    byPath.get(path).map(f =>
      f.footer + f.chunks.collect { case (c, b) if cols.contains(c) => b }.sum)
      .getOrElse(0L)
}

object Manifest {
  final case class File(path: String, size: Long, partitionValues: Map[String, String],
      stats: String, footer: Long, chunks: Map[String, Long])
  final case class Table(partitionColumns: Seq[String], files: Seq[File])

  val empty: Manifest = Manifest(Map.empty)

  def read(p: Path): Manifest = {
    val root = new ObjectMapper().readTree(Files.readAllBytes(p))
    Manifest(root.properties().asScala.collect {
      case e if e.getValue.isObject =>
        val t = e.getValue
        e.getKey -> Table(
          t.get("partitionColumns").elements().asScala.map(_.asText).toSeq,
          t.get("files").elements().asScala.map { f =>
            File(f.get("path").asText, f.get("size").asLong,
              f.get("partitionValues").properties().asScala
                .map(kv => kv.getKey -> kv.getValue.asText).toMap,
              f.get("stats").asText, f.get("footer").asLong,
              f.get("chunks").properties().asScala
                .map(kv => kv.getKey -> kv.getValue.asLong).toMap)
          }.toSeq)
    }.toMap)
  }
}
