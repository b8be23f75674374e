package perfbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Writes the generated inputs as plain parquet files without running a
  * Spark job, so generation does not warm up Spark's write path, which the
  * measured program never uses. Values: Long, Int, Double, String, or
  * Array[Float] for a `(LIST)` field of `element`s. */
object ParquetFiles {
  def write(file: String, schema: String, rows: Iterator[Seq[Any]]): Unit = {
    val tpe = MessageTypeParser.parseMessageType(schema)
    val names = (0 until tpe.getFieldCount).map(tpe.getFieldName)
    val factory = new SimpleGroupFactory(tpe)
    val conf = new Configuration()
    val out = HadoopOutputFile.fromPath(new Path(file), conf)
    val writer = ExampleParquetWriter.builder(out).withType(tpe).withConf(conf).build()
    try rows.foreach { row =>
      val g: Group = factory.newGroup()
      names.zip(row).foreach {
        case (n, v: Long)   => g.append(n, v)
        case (n, v: Int)    => g.append(n, v)
        case (n, v: Double) => g.append(n, v)
        case (n, v: String) => g.append(n, v)
        case (n, v: Array[Float]) =>
          val list = g.addGroup(n)
          v.foreach(x => list.addGroup("list").append("element", x))
        case (n, v) => throw new IllegalArgumentException(s"unsupported value for $n: $v")
      }
      writer.write(g)
    } finally writer.close()
  }
}
