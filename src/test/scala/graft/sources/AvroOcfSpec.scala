package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class AvroOcfSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("email", StringType, nullable = true),
    StructField("balance", DoubleType, nullable = false),
    StructField("active", BooleanType, nullable = false)))

  private def rows(n: Int): Seq[Row] = (0 until n).map(i =>
    Row(i.toLong, if (i % 7 == 0) null else s"u$i@example.com",
      i * 1.25, i % 2 == 0))

  test("OCF round-trips rows through null and deflate codecs") {
    for (codec <- Seq("null", "deflate")) {
      val payload = AvroOcf.write(rows(2500), schema, codec, blockRecords = 300)
      val (writer, got) = AvroOcf.read(payload, schema)
      assert(writer.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq
        === schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq)
      assert(got === rows(2500), s"codec $codec round-trip mismatch")
    }
    // deflate actually compresses the repetitive payload
    val plain = AvroOcf.write(rows(2500), schema, "null")
    val packed = AvroOcf.write(rows(2500), schema, "deflate")
    assert(packed.length * 2 < plain.length,
      s"deflate did not compress: ${packed.length} vs ${plain.length}")
  }

  test("identical writes are byte-identical (deterministic sync marker)") {
    val a = AvroOcf.write(rows(100), schema)
    val b = AvroOcf.write(rows(100), schema)
    assert(java.util.Arrays.equals(a, b))
  }

  test("BACKWARD read: old files resolve into an evolved reader schema") {
    val payload = AvroOcf.write(rows(50), schema)
    val evolved = StructType(schema.fields.toSeq :+
      StructField("phone", StringType, nullable = true))
    val (_, got) = AvroOcf.read(payload, evolved)
    assert(got.length === 50)
    got.foreach(r => assert(r.get(4) == null, "new nullable field must null-fill"))
    assert(got.map(_.getLong(0)) === (0L until 50L).toSeq)
    // and a widened reader (int file read as long) via the writer schema
    val intSchema = StructType(Seq(StructField("n", IntegerType, nullable = false)))
    val intPayload = AvroOcf.write(Seq(Row(7), Row(8)), intSchema)
    val longReader = StructType(Seq(StructField("n", LongType, nullable = false)))
    val (_, widened) = AvroOcf.read(intPayload, longReader)
    assert(widened === Seq(Row(7L), Row(8L)))
  }

  test("distributed readFiles: one file per task, no shuffle") {
    val dir = tempDir("graft-ocf").toString
    for (part <- 0 until 3) {
      val slice = rows(900).slice(part * 300, (part + 1) * 300)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"part-$part.avro"),
        AvroOcf.write(slice, schema, codec = if (part == 1) "deflate" else "null"))
    }
    val df = AvroOcf.readFiles(spark, dir, schema)
    assert(df.count() === 900)
    assert(df.schema.fields.map(_.name).toSeq === schema.fields.map(_.name).toSeq)
    import org.apache.spark.sql.functions._
    assert(df.agg(sum(col("id"))).head.getLong(0) === (0L until 900L).sum)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"OCF read must not shuffle:\n$plan")
  }

  test("distributed sink: one container per partition, round-trips through readFiles") {
    import spark.implicits._
    val dir = tempDir("graft-ocf-w").toString + "/out"
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows(600), 4), schema)
    AvroOcf.writeFiles(df, dir, codec = "deflate", blockRecords = 100)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro"))
    assert(files.length === 4, "one container per non-empty partition")
    val back = AvroOcf.readFiles(spark, dir, schema)
    assert(back.count() === 600)
    assert(back.orderBy("id").collect().toSeq === rows(600).sortBy(_.getLong(0)))
  }

  test("corrupt payloads are rejected with meaningful errors") {
    val good = AvroOcf.write(rows(10), schema)
    val badMagic = good.clone(); badMagic(0) = 'X'
    val e1 = intercept[java.io.IOException](AvroOcf.read(badMagic, schema))
    assert(e1.getMessage.contains("bad magic"))
    // corrupting the trailing sync marker must be detected
    val badSync = good.clone(); badSync(badSync.length - 1) =
      (badSync(badSync.length - 1) ^ 0x1).toByte
    val e2 = intercept[java.io.IOException](AvroOcf.read(badSync, schema))
    assert(e2.getMessage.contains("sync marker mismatch"))
  }

  test("external-writer schema shapes: object-form types parse, bad shapes fail clearly") {
    // Kafka Connect/Debezium exports annotate primitives with logicalType
    val objForm = """{"type":"record","name":"row","fields":[
      {"name":"ts","type":{"type":"long","logicalType":"timestamp-millis"}},
      {"name":"id","type":"long"}]}"""
    val parsed = AvroOcf.fromAvroJson(objForm.replaceAll("\n", ""))
    assert(parsed.fields.map(f => (f.name, f.dataType)).toSeq
      === Seq(("ts", LongType), ("id", LongType)))
    // unsupported complex types name the field instead of a key-not-found
    val complex = """{"type":"record","name":"row","fields":[
      {"name":"tags","type":{"type":"array","items":"string"}}]}"""
    val e = intercept[java.io.IOException](
      AvroOcf.fromAvroJson(complex.replaceAll("\n", "")))
    assert(e.getMessage.contains("tags"))
    // a reversed union would break branch-index decoding: refused
    val reversed = """{"type":"record","name":"row","fields":[
      {"name":"email","type":["string","null"]}]}"""
    val e2 = intercept[java.io.IOException](
      AvroOcf.fromAvroJson(reversed.replaceAll("\n", "")))
    assert(e2.getMessage.contains("null first"))
  }

  test("an unresolvable reader schema fails loudly at read, not in the encoder") {
    val payload = AvroOcf.write(rows(10), schema)
    val strictReader = StructType(schema.fields.map {
      case f if f.name == "email" => f.copy(nullable = false)
      case f => f
    })
    val e = intercept[java.io.IOException](AvroOcf.read(payload, strictReader))
    assert(e.getMessage.contains("cannot resolve"))
  }

  test("corrupt length varints are IOExceptions, not negative-allocation crashes") {
    val good = AvroOcf.write(rows(5), schema)
    // the byte right after the magic starts the metadata map count; flip a
    // later length byte to a negative zigzag value
    var found = false
    var i = 40
    while (!found && i < good.length - 1) {
      val mutated = good.clone()
      mutated(i) = 0x05 // zigzag -3 if this lands on a varint start
      try { AvroOcf.read(mutated, schema); () }
      catch {
        case e: java.io.IOException
            if e.getMessage != null && e.getMessage.contains("corrupt OCF") =>
          found = true
        case _: Exception => () // other corruption outcomes are fine too
      }
      i += 1
    }
    assert(found, "no byte position produced the guarded corrupt-length error")
  }

  test("schema JSON round-trips the envelope subset") {
    val json = AvroOcf.toAvroJson(schema)
    assert(json.contains("\"type\":\"record\""))
    val back = AvroOcf.fromAvroJson(json)
    assert(back.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq
      === schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq)
  }
}
