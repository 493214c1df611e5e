package perfbench

import java.util.Locale
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.types._

/** Bytes a parquet scan must fetch for a read schema, from the file
  * footers: the compressed size of every column chunk the schema names.
  *
  * Leaf paths are lower-cased and written the same way on both sides:
  * array levels add no segment (`sections.heading`), a map adds `$key`
  * or `$value` (`attrs.$value.small`). An empty struct (a "skeleton":
  * the query needs the value's presence, not its fields) costs its
  * cheapest leaf, the least a reader must decode to rebuild it. */
object Footer {

  private sealed trait Leaf { def path: String }
  private final case class Column(path: String) extends Leaf
  private final case class Skeleton(path: String) extends Leaf

  private def leaves(schema: StructType): Seq[Leaf] = {
    def walk(prefix: String, dt: DataType): Seq[Leaf] = dt match {
      case s: StructType if s.isEmpty => Seq(Skeleton(prefix))
      case s: StructType =>
        s.fields.toSeq.flatMap(f => walk(join(prefix, f.name.toLowerCase(Locale.ROOT)), f.dataType))
      case ArrayType(e, _) => walk(prefix, e)
      case MapType(k, v, _) => walk(join(prefix, "$key"), k) ++ walk(join(prefix, "$value"), v)
      case _ => Seq(Column(prefix))
    }
    walk("", schema)
  }

  private def join(prefix: String, name: String) = if (prefix.isEmpty) name else s"$prefix.$name"

  /** A footer column path (`attrs.key_value.value.small`) in leaf form. */
  private[perfbench] def chunkPath(tokens: Seq[String]): String = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < tokens.length) {
      tokens(i) match {
        case "list" if tokens.lift(i + 1).contains("element") => i += 1
        case "key_value" =>
          out += (if (tokens.lift(i + 1).contains("key")) "$key" else "$value")
          i += 1
        case t => out += t.toLowerCase(Locale.ROOT)
      }
      i += 1
    }
    out.result().mkString(".")
  }

  /** Footer chunk bytes per leaf path, summed over row groups and files. */
  private val chunks = new ConcurrentHashMap[Seq[String], Map[String, Long]]()

  def chunkBytes(files: Seq[String], conf: Configuration): Map[String, Long] =
    chunks.computeIfAbsent(files.sorted, fs => fs.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
        .map(c => chunkPath(c.getPath.toArray.toSeq) -> c.getTotalSize)
      finally reader.close()
    }.flatten.groupMapReduce(_._1)(_._2)(_ + _))

  /** Bytes `schema` reads from files whose chunks are `bytes`. */
  def requiredBytes(schema: StructType, bytes: Map[String, Long]): Long =
    leaves(schema).map {
      case Column(p) => bytes.getOrElse(p, 0L)
      case Skeleton(p) =>
        val under = bytes.collect { case (k, v) if k.startsWith(p + ".") => v }
        if (under.isEmpty) 0L else under.min
    }.sum

  def leafCount(schema: StructType): Int = leaves(schema).size
}
