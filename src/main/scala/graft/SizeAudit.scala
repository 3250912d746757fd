package graft

import org.apache.hadoop.conf.Configuration

import graft.format._
import graft.format.Meta._

/** Per-column on-disk size breakdown for a graft dir: which columns (and
  * which buffers) carry the bytes. Drives encoding work where it pays. */
object SizeAudit {
  private def bufBytes(b: BufferMeta): Long = b.pages.map(_.compSize.toLong).sum
  private def colBytes(c: ColMeta): Long = {
    val v = c.validity.map(bufBytes).getOrElse(0L)
    v + (c match {
      case PrimitiveMeta(_, values) => bufBytes(values)
      case DictIdxMeta(_, _, idx) => bufBytes(idx)
      case BinaryMeta(_, off, data) => bufBytes(off) + bufBytes(data)
      case BinDictMeta(_, _, _, dOff, dData, idx) => bufBytes(dOff) + bufBytes(dData) + bufBytes(idx)
      case ForMeta(_, _, _, values) => bufBytes(values)
      case UnsignedMeta(_, _, values) => bufBytes(values)
      case ReeMeta(_, ends, values) => bufBytes(ends) + bufBytes(values)
      case PrimDictMeta(_, _, _, entries, indices) => bufBytes(entries) + bufBytes(indices)
      case DeltaMeta(_, _, _, deltas, _) => bufBytes(deltas)
      case ScaledMeta(_, _, inner) => colBytes(inner)
      case UnsignedPackedMeta(_, _, inner) => colBytes(inner)
      case BitPackMeta(_, _, _, values) => bufBytes(values)
      case ListMeta(_, off, child) => bufBytes(off) + colBytes(child)
      case StructMeta(_, children) => children.map(colBytes).sum
      case MapMeta(_, off, k, v2) => bufBytes(off) + colBytes(k) + colBytes(v2)
    })
  }
  private def enc(c: ColMeta): String = c match {
    case ScaledMeta(_, _, inner) => s"Scl(${enc(inner)})"
    case UnsignedPackedMeta(_, _, inner) => s"U(${enc(inner)})"
    case _ => c.getClass.getSimpleName.stripSuffix("Meta")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val table = if (args.length > 1) args(1) else "lineitem"
    val spark = Harness.session()
    val dir = s"/tmp/graft_sizeaudit/$table"
    Tables.load(spark, sfDir, table).coalesce(1)
      .write.format("graft").mode("overwrite").save(dir)
    val conf = new Configuration()
    val files = graft.sources.GraftDataSource.listFiles(conf, dir)
    val totals = scala.collection.mutable.LinkedHashMap.empty[String, (String, Long)]
    var dictBytes = 0L
    files.foreach { f =>
      val r = GraftFileReader.open(f.getFileSystem(conf), f)
      try {
        r.footer.chunks.foreach { ch =>
          dictBytes += bufBytes(ch.dict20.data) + bufBytes(ch.dict32.data)
          ch.tables.foreach { t =>
            t.schema.fields.zip(t.columns).foreach { case (fld, c) =>
              val (_, prev) = totals.getOrElse(fld.name, (enc(c), 0L))
              totals(fld.name) = (enc(c), prev + colBytes(c))
            }
          }
        }
      } finally r.close()
    }
    val all = totals.values.map(_._2).sum + dictBytes
    println(f"TOTAL ${all / 1e6}%.1f MB (dicts ${dictBytes / 1e6}%.2f MB)")
    totals.toSeq.sortBy(-_._2._2).foreach { case (name, (e, b)) =>
      println(f"$name%-18s $e%-10s ${b / 1e6}%8.2f MB ${100.0 * b / all}%5.1f%%")
    }
    spark.stop()
  }
}
