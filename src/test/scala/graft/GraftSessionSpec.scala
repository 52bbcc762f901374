package graft

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.LongType

/** Guards the one session factory: what it promises to every reader, and
  * that no entry point grows its own builder again. */
class GraftSessionSpec extends SparkSuite {

  test("TIMESTAMP(NANOS) parquet reads as epoch-nanos LONG") {
    val ns   = 1700000000123456789L
    val file = new Path(tmpDir("nanos"), "ts.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(file)
      .withConf(new Configuration()).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("ts", ns))
    finally writer.close()

    val df = spark.read.parquet(file.toString)
    assert(df.schema("ts").dataType == LongType)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(ns))
  }

  test("no session builder outside GraftSession") {
    val needle = "SparkSession" + ".builder" // split so this file does not match itself
    val roots  = Seq("src/main", "src/test").map(new File(_))
    roots.foreach(r => assert(r.isDirectory, s"${r.getAbsolutePath} is not a directory"))
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val sources = roots.flatMap(files).filter(_.getName.endsWith(".scala"))
    assert(sources.exists(_.getName == "GraftSession.scala"))
    val offenders = sources.filter { f =>
      f.getName != "GraftSession.scala" && {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.mkString.contains(needle) finally src.close()
      }
    }
    assert(offenders.isEmpty,
      s"build sessions with graft.GraftSession, not a builder: ${offenders.mkString(", ")}")
  }
}
