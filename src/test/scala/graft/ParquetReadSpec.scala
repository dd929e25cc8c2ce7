package graft

import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.attribute.FileTime
import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT64}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

import graft.model.Tables
import graft.queries.IndexedCorpus
import graft.util.ParquetRead

/** The parquet schema memo against plain `spark.read.parquet`: same
  * schemas and rows, no inference job for unchanged content, a fresh
  * inference whenever the bytes or the parquet confs change, and the
  * plain read for everything it cannot key. */
class ParquetReadSpec extends SparkSpec {
  private val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"
  private val NtzConf = "spark.sql.parquet.inferTimestampNTZ.enabled"

  private def tmp(): JPath = Files.createTempDirectory("graft_pread_")

  /** Jobs that `body` starts on this thread, counted by a SparkListener.
    * A sentinel job in its own group follows; the listener bus delivers
    * in order, so once the sentinel is seen every earlier job is too. */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"parquet-read-spec-${UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(
          "spark.jobGroup.id"))).foreach(seen.add)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      while (!seen.contains(s"$group-end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$group-end"), "listener never saw the sentinel")
      seen.asScala.count(_ == group)
    } finally sc.removeSparkListener(l)
  }

  /** One uncompressed parquet file of `schema` written straight through
    * parquet-hadoop (Spark cannot write TIMESTAMP(NANOS)), without the
    * `.crc` sidecar, so a test may rewrite its bytes in place. */
  private def writeFile(f: JPath, schema: MessageType)(
      rows: Seq[Any]): Unit = {
    Files.deleteIfExists(f)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), new Configuration()))
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
      .build()
    val field = schema.getFieldName(0)
    try rows.foreach { v =>
      val g = new SimpleGroupFactory(schema).newGroup()
      v match {
        case x: Long => g.append(field, x)
        case s: String => g.append(field, s)
      }
      w.write(g)
    } finally w.close()
    Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc")): Unit
  }

  private val longA = Types.buildMessage().required(INT64).named("a")
    .named("m")
  private val stringB = Types.buildMessage().required(BINARY)
    .as(LogicalTypeAnnotation.stringType()).named("b").named("m")
  private val nanosTs = Types.buildMessage().required(INT64)
    .as(LogicalTypeAnnotation.timestampType(false,
      LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts").named("m")

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("parity: every test table reads with the same schema (nullability " +
      "and metadata included) and the same rows as a plain read") {
    for (name <- Tables.all) {
      val memo1 = Tables.load(spark, sfDir, name)
      val memo2 = Tables.load(spark, sfDir, name) // served from the memo
      // Tables.load has set its confs; the plain read runs under them
      val raw = spark.read.parquet(Tables.path(sfDir, name))
      val plain = Tables.normalize(name, raw)
      assert(ParquetRead.read(spark, Tables.path(sfDir, name)).schema.json ==
        raw.schema.json, name)
      for (m <- Seq(memo1, memo2)) {
        assert(m.schema.json == plain.schema.json, name)
        assert(m.collect().toSeq == plain.collect().toSeq, name)
      }
    }
  }

  test("a second read of unchanged content starts no Spark job") {
    Tables.all.foreach(Tables.load(spark, sfDir, _))
    assert(jobsIn(Tables.all.foreach(Tables.load(spark, sfDir, _))) == 0)

    // a Spark-written directory, read twice: the first read infers
    val dir = tmp().resolve("t").toString
    spark.range(10).withColumn("k", col("id") % 3).write.partitionBy("k")
      .parquet(dir)
    assert(jobsIn(ParquetRead.read(spark, dir).schema) == 1)
    val again = ParquetRead.read(spark, dir)
    assert(jobsIn(ParquetRead.read(spark, dir).schema) == 0)
    assert(again.schema == spark.read.parquet(dir).schema)
    assert(again.orderBy("id").collect().toSeq ==
      spark.read.parquet(dir).orderBy("id").collect().toSeq)
  }

  test("rewriting a file at the same path with another schema re-infers") {
    val f = tmp().resolve("t.parquet")
    writeFile(f, longA)(Seq(1L, 2L))
    assert(ParquetRead.read(spark, f.toString).schema.fieldNames.toSeq ==
      Seq("a"))
    writeFile(f, stringB)(Seq("x"))
    val df = ParquetRead.read(spark, f.toString)
    assert(df.schema.fieldNames.toSeq == Seq("b"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("x"))
  }

  test("flipping nanosAsLong or inferTimestampNTZ re-infers; a failed " +
      "inference is not remembered") {
    val f = tmp().resolve("ns.parquet")
    writeFile(f, nanosTs)(Seq(1700000000123456789L))
    val p = f.toString
    withConf(NanosConf, "true") {
      assert(ParquetRead.read(spark, p).schema("ts").dataType == LongType)
      assert(jobsIn(ParquetRead.read(spark, p)) == 0)
    }
    withConf(NanosConf, "false") {
      // a new inference, not the memoized LongType: Spark refuses the
      // column as a plain read does, and the refusal is not remembered
      val plain = intercept[AnalysisException](spark.read.parquet(p))
      for (_ <- 1 to 2) {
        val e = intercept[AnalysisException](ParquetRead.read(spark, p))
        assert(e.getMessage == plain.getMessage)
      }
    }
    withConf(NanosConf, "true") {
      assert(jobsIn(ParquetRead.read(spark, p)) == 0)
    }

    val events = Tables.path(sfDir, "events")
    val ts = Seq("true", "false").map { v =>
      withConf(NtzConf, v) {
        ParquetRead.read(spark, events).schema("ts").dataType
      }
    }
    assert(ts(0) != ts(1), "naive micros: NTZ under true, LTZ under false")
  }

  test("glob and non-file paths take the plain read; a missing path " +
      "throws what a plain read throws") {
    val d = tmp()
    writeFile(d.resolve("x.parquet"), longA)(Seq(7L))
    val size0 = ParquetRead.memoSize

    val glob = s"$d/*.parquet"
    assert(ParquetRead.read(spark, glob).collect().map(_.getLong(0)).toSeq ==
      Seq(7L))
    assert(jobsIn(ParquetRead.read(spark, glob)) == 1)

    // local bytes under another scheme (AtomicFilesSpec's MockSchemeFs)
    spark.sparkContext.hadoopConfiguration.set("fs.mockfs.impl",
      classOf[MockSchemeFs].getName)
    val mock = s"mockfs://$d/x.parquet"
    assert(ParquetRead.read(spark, mock).collect().map(_.getLong(0)).toSeq ==
      Seq(7L))
    assert(jobsIn(ParquetRead.read(spark, mock)) == 1)
    assert(ParquetRead.memoSize == size0)

    val missing = d.resolve("absent.parquet").toString
    val plain = intercept[Exception](spark.read.parquet(missing))
    val mine = intercept[Exception](ParquetRead.read(spark, missing))
    assert(mine.getClass == plain.getClass)
    assert(mine.getMessage == plain.getMessage)
  }

  test("the memo is an LRU that never grows past its cap") {
    val d = tmp()
    val src = d.resolve("src.parquet")
    writeFile(src, longA)(Seq(1L))
    val copies = (0 until ParquetRead.Cap + 8).map { i =>
      val c = d.resolve(s"c$i.parquet")
      Files.copy(src, c)
      c.toString
    }
    copies.foreach { c =>
      ParquetRead.read(spark, c)
      assert(ParquetRead.memoSize <= ParquetRead.Cap)
    }
    assert(ParquetRead.memoSize == ParquetRead.Cap)
    // the newest entries survive, the oldest were evicted
    assert(jobsIn(ParquetRead.read(spark, copies.last)) == 0)
    assert(jobsIn(ParquetRead.read(spark, copies.head)) == 1)
  }

  test("IndexedCorpus sees a same-length rewrite inside one millisecond") {
    val f = tmp().resolve("docs.parquet")
    val other = tmp().resolve("docs2.parquet")
    writeFile(f, stringB)(Seq("aaaa", "cccc"))
    writeFile(other, stringB)(Seq("bbbb", "cccc"))
    assert(Files.size(f) == Files.size(other))
    def fp() = IndexedCorpus.fingerprint(spark.read.parquet(f.toString),
      col("b"))
    val before = fp()
    assert(fp() == before) // memo hit on unchanged bytes

    val t = Files.getLastModifiedTime(f).to(TimeUnit.NANOSECONDS)
    Files.write(f, Files.readAllBytes(other)) // in place: same inode
    val t2 = if (t % 1000000L == 999999L) t - 1 else t + 1
    Files.setLastModifiedTime(f, FileTime.from(t2, TimeUnit.NANOSECONDS))
    assert(Files.getLastModifiedTime(f).toMillis ==
      FileTime.from(t, TimeUnit.NANOSECONDS).toMillis)
    assert(Files.getLastModifiedTime(f).to(TimeUnit.NANOSECONDS) == t2)
    val after = fp()
    assert(after != before)
    assert(after == IndexedCorpus.fingerprint(
      spark.read.parquet(other.toString), col("b")))
  }

  test("source guard: library reads outside ParquetRead never call " +
      "spark.read.parquet") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val ReadParquet = """\bread\s*\.\s*parquet\s*\(""".r
    val hits = Seq("model", "queries", "extra", "streaming").flatMap { sub =>
      Using.resource(Files.walk(root.resolve(sub)))(
        _.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector)
    }.filterNot(_.getFileName.toString == "ParquetRead.scala").flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if ReadParquet.findFirstIn(line).isDefined =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty,
      "use graft.util.ParquetRead.read:\n" + hits.mkString("\n"))
  }
}
