package graft.ops

import graft.SparkTestBase
import graft.schema._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Flatten/unflatten golden behavior ported from the reference DDT corpus
  * (reference: test/ddt_suite/record.lua, record_version.lua, union.lua,
  * record_hidden.lua — via FIXTURES.md F1/F3/F5/F9).
  */
class FlattenSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val personJson = """{"name":"person","type":"record","fields":[
    {"name":"FirstName","type":"string"},{"name":"LastName","type":"string"},
    {"name":"Age","type":"int"},{"name":"Sex","type":"int"},
    {"name":"PhoneNumber","type":"string"},{"name":"HomeAddress","type":"string"},
    {"name":"Occupation","type":"string"}]}"""

  test("F1: flatten person in schema order") {
    val s = Avro.create(personJson)
    val c = FlattenOps.compile(s).toOption.get
    val df = Seq(("John", "Doe", 33, 1, "+7 999 1234567", "Long Street, 1",
      "Engineer")).toDF("FirstName", "LastName", "Age", "Sex", "PhoneNumber",
      "HomeAddress", "Occupation")
      // scramble input column order: flatten must re-order by schema
      .select("Occupation", "Age", "FirstName", "Sex", "LastName",
        "PhoneNumber", "HomeAddress")
    val flat = c.flatten(df)
    assert(flat.columns.toSeq == Seq("FirstName", "LastName", "Age", "Sex",
      "PhoneNumber", "HomeAddress", "Occupation"))
    assert(flat.head() == Row("John", "Doe", 33, 1, "+7 999 1234567",
      "Long Street, 1", "Engineer"))
  }

  test("F1: unflatten person round-trip") {
    val s = Avro.create(personJson)
    val c = FlattenOps.compile(s).toOption.get
    val df = Seq(("John", "Doe", 33, 1, "+7", "Street", "Engineer"))
      .toDF("FirstName", "LastName", "Age", "Sex", "PhoneNumber",
        "HomeAddress", "Occupation")
    val back = c.unflatten(c.flatten(df))
    assert(back.head() == df.head())
  }

  test("F5: evolution reorder — flatten in target order [4,3,2,1]") {
    val foo = Avro.create("""{"name":"foo","type":"record","fields":[
      {"name":"A","type":"int","default":1001},
      {"name":"B","type":"int","default":1002},
      {"name":"C","type":"int","default":1003},
      {"name":"D","type":"int","default":1004}]}""")
    val fooRev = Avro.create("""{"name":"foo","type":"record","fields":[
      {"name":"D","type":"int","default":1004},
      {"name":"C","type":"int","default":1003},
      {"name":"B","type":"int","default":1002},
      {"name":"A","type":"int","default":1001}]}""")
    val c = FlattenOps.compile(foo, fooRev).toOption.get
    val df = Seq((1, 2, 3, 4)).toDF("A", "B", "C", "D")
    val flat = c.flatten(df)
    assert(flat.columns.toSeq == Seq("D", "C", "B", "A"))
    assert(flat.head() == Row(4, 3, 2, 1))
  }

  test("F5: evolution widen — missing source fields take target defaults") {
    val fooReduced = Avro.create("""{"name":"foo","type":"record","fields":[
      {"name":"A","type":"int","default":1001},
      {"name":"B","type":"int","default":1002}]}""")
    val foo4 = Avro.create("""{"name":"foo","type":"record","fields":[
      {"name":"A","type":"int","default":1001},
      {"name":"B","type":"int","default":1002},
      {"name":"C","type":"int","default":1003},
      {"name":"D","type":"int","default":1004}]}""")
    val c = FlattenOps.compile(fooReduced, foo4).toOption.get
    val df = Seq((1, 2)).toDF("A", "B")
    assert(c.flatten(df).head() == Row(1, 2, 1003, 1004))
  }

  test("F5: evolution narrow — extra fields dropped") {
    val foo4 = Avro.create("""{"name":"foo","type":"record","fields":[
      {"name":"A","type":"int","default":1001},
      {"name":"B","type":"int","default":1002},
      {"name":"C","type":"int","default":1003},
      {"name":"D","type":"int","default":1004}]}""")
    val fooReduced = Avro.create("""{"name":"foo","type":"record","fields":[
      {"name":"A","type":"int","default":1001},
      {"name":"B","type":"int","default":1002}]}""")
    val c = FlattenOps.compile(foo4, fooReduced).toOption.get
    val df = Seq((1, 2, 3, 4)).toDF("A", "B", "C", "D")
    val flat = c.flatten(df)
    assert(flat.columns.toSeq == Seq("A", "B"))
    assert(flat.head() == Row(1, 2))
  }

  test("F5: added fields with empty array/map defaults match Avro's reader") {
    // regression: an empty-array default used to build `cast([] as
    // array<int>)` from a typed literal, which analysis rejected
    val wJson = """{"type":"record","name":"R","fields":[
      {"name":"a","type":"int"}]}"""
    val rJson = """{"type":"record","name":"R","fields":[
      {"name":"a","type":"int"},
      {"name":"n","type":{"type":"array","items":"int"},"default":[]},
      {"name":"rs","type":{"type":"array","items":{"type":"record",
        "name":"I","fields":[{"name":"x","type":"long"}]}},"default":[]},
      {"name":"m","type":{"type":"map","values":"string"},"default":{}}]}"""
    val c = FlattenOps.compile(Avro.create(wJson), Avro.create(rJson))
      .fold(e => sys.error(e), identity)
    val cr = FlattenOps.compile(Avro.create(rJson))
      .fold(e => sys.error(e), identity)
    val graft = cr.unflatten(c.flatten(Seq(1, 7).toDF("a")))
      .orderBy("a").collect().toSeq
    // Apache Avro's resolving reader over the same writer rows
    val ws = new org.apache.avro.Schema.Parser().parse(wJson)
    val rs = new org.apache.avro.Schema.Parser().parse(rJson)
    def canon(v: Any): Any = v match {
      case r: org.apache.avro.generic.GenericRecord =>
        Row(r.getSchema.getFields.asScala.map(f => canon(r.get(f.pos))).toSeq: _*)
      case m: java.util.Map[_, _] =>
        m.asScala.map { case (k, x) => k.toString -> canon(x) }.toMap
      case xs: java.util.Collection[_] => xs.asScala.map(canon).toSeq
      case other => other
    }
    val avro = Seq(1, 7).map { a =>
      val rec = new org.apache.avro.generic.GenericData.Record(ws)
      rec.put("a", a)
      val bytes = new java.io.ByteArrayOutputStream
      val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(bytes, null)
      new org.apache.avro.generic.GenericDatumWriter[AnyRef](ws).write(rec, enc)
      enc.flush()
      canon(new org.apache.avro.generic.GenericDatumReader[AnyRef](ws, rs)
        .read(null, org.apache.avro.io.DecoderFactory.get()
          .binaryDecoder(bytes.toByteArray, null)))
    }
    assert(graft == avro)
    assert(graft.head == Row(1, Seq.empty, Seq.empty, Map.empty))
  }

  test("nested record inlines fields; nullable record is one slot") {
    val s = Avro.create("""{"name":"X","type":"record","fields":[
      {"name":"x1","type":"string"},
      {"name":"x2","type":{"type":"record","name":"Y","fields":[
        {"name":"y1","type":"string"},{"name":"y2","type":"long"}]}},
      {"name":"x3","type":{"type":"record*","name":"Z","fields":[
        {"name":"z1","type":"string*"}]}}]}""")
    val c = FlattenOps.compile(s).toOption.get
    assert(c.flatNames == Vector("x1", "x2_y1", "x2_y2", "x3"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("a", Row("b", 7L), Row("z")),
        Row("a2", Row("b2", 8L), null))),
      SchemaConverters.toStructType(s, s.rootRecord))
    val flat = c.flatten(df).orderBy("x1")
    val rows = flat.collect()
    assert(rows(0) == Row("a", "b", 7L, Row("z")))
    assert(rows(1) == Row("a2", "b2", 8L, null))
    // round-trip
    val back = c.unflatten(c.flatten(df)).orderBy("x1").collect()
    assert(back(0) == Row("a", Row("b", 7L), Row("z")))
    assert(back(1) == Row("a2", Row("b2", 8L), null))
  }

  test("enum flattens to 0-based index and back (F6)") {
    val s = Avro.create("""{"name":"r","type":"record","fields":[
      {"name":"sex","type":{"type":"enum","name":"Sex",
        "symbols":["FEMALE","MALE"]}},
      {"name":"n","type":"int"}]}""")
    val c = FlattenOps.compile(s).toOption.get
    val df = Seq(("MALE", 1), ("FEMALE", 2)).toDF("sex", "n")
    val flat = c.flatten(df).orderBy("n")
    assert(flat.collect().toSeq == Seq(Row(1, 1), Row(0, 2)))
    val back = c.unflatten(c.flatten(df)).orderBy("n").collect()
    assert(back.toSeq == Seq(Row("MALE", 1), Row("FEMALE", 2)))
  }

  test("enum evolution remaps symbol indices (F6 enum_versions)") {
    val e1 = Avro.create("""{"name":"r","type":"record","fields":[
      {"name":"e","type":{"type":"enum","name":"E","symbols":["A","B","C"]}}]}""")
    val e2 = Avro.create("""{"name":"r","type":"record","fields":[
      {"name":"e","type":{"type":"enum","name":"E","symbols":["C","B","X"]}}]}""")
    val c = FlattenOps.compile(e1, e2).toOption.get
    val df = Seq("A", "B", "C").toDF("e")
    val flat = c.flatten(df)
    // A unmapped → null; B→1; C→0
    assert(flat.collect().map(_.get(0)).toSeq == Seq(null, 1, 0))
  }

  test("F3: nullable-scalar union → tag + value slots") {
    val s = Avro.create("""{"name":"r","type":"record","fields":[
      {"name":"u","type":["null","int"]},{"name":"k","type":"int"}]}""")
    val c = FlattenOps.compile(s).toOption.get
    assert(c.flatNames == Vector("u_type", "u", "k"))
    val df = Seq((Some(42), 1), (None, 2)).toDF("u", "k")
    val flat = c.flatten(df).orderBy("k")
    assert(flat.collect().toSeq == Seq(Row(1, 42, 1), Row(0, null, 2)))
    val back = c.unflatten(c.flatten(df)).orderBy("k").collect()
    assert(back.toSeq == Seq(Row(42, 1), Row(null, 2)))
  }

  test("F9: hidden fields occupy slots but are dropped by unflatten") {
    val s = Avro.create("""{"name":"r","type":"record","fields":[
      {"name":"A","type":"int","hidden":true},
      {"name":"B","type":"int","hidden":true},
      {"name":"C","type":"int","hidden":true},
      {"name":"D","type":"int"}]}""")
    val c = FlattenOps.compile(s).toOption.get
    val flatDf = Seq((100, 200, 300, 400)).toDF("A", "B", "C", "D")
    val obj = c.unflatten(flatDf)
    assert(obj.columns.toSeq == Seq("D"))
    assert(obj.head() == Row(400))
  }

  test("F7: promotions applied during flatten (int→long, string→bytes)") {
    val w = Avro.create("""{"name":"r","type":"record","fields":[
      {"name":"a","type":"int"},{"name":"s","type":"string"}]}""")
    val r = Avro.create("""{"name":"r","type":"record","fields":[
      {"name":"a","type":"long"},{"name":"s","type":"bytes"}]}""")
    val c = FlattenOps.compile(w, r).toOption.get
    val df = Seq((7, "hi")).toDF("a", "s")
    val flat = c.flatten(df)
    val row = flat.head()
    assert(row.get(0) == 7L)
    assert(row.getAs[Array[Byte]](1).toSeq == "hi".getBytes.toSeq)
  }

  test("arrays and maps transform elementwise") {
    val w = Avro.create("""{"name":"r","type":"record","fields":[
      {"name":"xs","type":{"type":"array","items":"int"}},
      {"name":"m","type":{"type":"map","values":"int"}}]}""")
    val r = Avro.create("""{"name":"r","type":"record","fields":[
      {"name":"xs","type":{"type":"array","items":"long"}},
      {"name":"m","type":{"type":"map","values":"double"}}]}""")
    val c = FlattenOps.compile(w, r).toOption.get
    val df = Seq((Seq(1, 2, 3), Map("a" -> 1))).toDF("xs", "m")
    val row = c.flatten(df).head()
    assert(row.getSeq[Long](0).toList == List(1L, 2L, 3L))
    assert(row.getMap[String, Double](1).toMap == Map("a" -> 1.0))
  }

  test("service fields prefix the tuple (F8)") {
    val s = Avro.create("""{"name":"r","type":"record","fields":[
      {"name":"a","type":"string"},{"name":"b","type":"int"}]}""")
    val c = FlattenOps.compile(s, s, downgrade = false,
      Seq(org.apache.spark.sql.types.BooleanType)).toOption.get
    val df = Seq(("Simple ", 1234)).toDF("a", "b")
    val flat = c.flatten(df, Seq(lit(true)))
    assert(flat.columns.toSeq == Seq("sf0", "a", "b"))
    assert(flat.head() == Row(true, "Simple ", 1234))
    val back = c.unflatten(flat)
    assert(back.columns.toSeq == Seq("sf0", "a", "b"))
    assert(back.head() == Row(true, "Simple ", 1234))
  }

  test("recursive schema: depth-limited Spark type + flatten/unflatten") {
    val s = Avro.create("""{"name":"node","type":"record","fields":[
      {"name":"next","type":["null","node"]},
      {"name":"label","type":"string"}]}""")
    // the Spark type terminates (truncates at MaxRecursionDepth)
    val st = SchemaConverters.toStructType(s, s.rootRecord)
    assert(st.fieldNames.toSeq == Seq("next", "label"))
    val c = FlattenOps.compile(s).toOption.get
    // ["null","node"] is the nullable-scalar special case: next is a
    // plain nullable struct. 2-deep value through the DataFrame path:
    val rows = Seq(Row(Row(null, "L2"), "L1"), Row(null, "solo"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), st)
    val flat = c.flatten(df).orderBy("label")
    assert(flat.columns.toSeq == Seq("next_type", "next", "label"))
    val got = flat.collect()
    assert(got(0).getInt(0) == 1 && got(0).getStruct(1).getString(1) == "L2"
      && got(0).getString(2) == "L1")
    assert(got(1).getInt(0) == 0 && got(1).isNullAt(1)
      && got(1).getString(2) == "solo")
    val back = c.unflatten(c.flatten(df)).orderBy("label").collect()
    assert(back(0).getStruct(0).getString(1) == "L2")
    assert(back(1).isNullAt(0) && back(1).getString(1) == "solo")
  }

  test("general 3-branch union through the DataFrame path (F3)") {
    val s = Avro.create("""{"name":"r","type":"record","fields":[
      {"name":"u","type":["null","int","string"]},
      {"name":"k","type":"int"}]}""")
    val c = FlattenOps.compile(s).toOption.get
    val st = SchemaConverters.toStructType(s, s.rootRecord)
    // struct form: ($type$, int branch, string branch)
    val rows = Seq(
      Row(Row(1, 42, null), 1),
      Row(Row(2, null, "hi"), 2),
      Row(Row(0, null, null), 3))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), st)
    val flat = c.flatten(df).orderBy("k")
    assert(flat.columns.toSeq == Seq("u_type", "u", "k"))
    val got = flat.collect()
    assert(got(0).getInt(0) == 1 && got(0).getStruct(1).getInt(1) == 42)
    assert(got(1).getInt(0) == 2 && got(1).getStruct(1).getString(2) == "hi")
    assert(got(2).getInt(0) == 0)
    // round-trip
    val back = c.unflatten(c.flatten(df)).orderBy("k").collect()
    assert(back(0).getStruct(0).getInt(1) == 42)
    assert(back(1).getStruct(0).getString(2) == "hi")
    assert(back(2).getStruct(0).getInt(0) == 0)
  }

  test("flatten plan is a pure projection (no shuffle, codegen-friendly)") {
    val s = Avro.create(personJson)
    val c = FlattenOps.compile(s).toOption.get
    val df = Seq(("J", "D", 1, 1, "p", "h", "o")).toDF("FirstName",
      "LastName", "Age", "Sex", "PhoneNumber", "HomeAddress", "Occupation")
    val plan = c.flatten(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"flatten must not shuffle:\n$plan")
  }

  test("Compiled.explain names every slot in flat order (dump_src analog)") {
    val s = Avro.create("""{"name":"r","type":"record","fields":[
      {"name":"a","type":"string"},
      {"name":"n","type":{"name":"N","type":"record","fields":[
        {"name":"x","type":"int"},{"name":"y","type":"long"}]}},
      {"name":"u","type":["null","int","string"]}]}""")
    val c = FlattenOps.compile(s, s, downgrade = false,
      Seq(org.apache.spark.sql.types.StringType)).toOption.get
    val lines = c.explain.linesIterator.toVector
    assert(lines.size == c.flatNames.size)
    // flat order: service field, a, n.x, n.y, union tag + value
    assert(lines(0).contains("sf0") && lines(0).contains("service field"))
    assert(lines(1).contains("a (string)"))
    assert(lines(2).contains("n_x (int)"))
    assert(lines(3).contains("n_y (long)"))
    assert(lines(4).contains("u_type"))
    assert(lines.forall(l => l.contains("=")))
  }
}
