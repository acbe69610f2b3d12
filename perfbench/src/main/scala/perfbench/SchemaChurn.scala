package perfbench

import graft.functions.AvroBinary
import graft.ops.FlattenOps
import graft.schema.{Avro, SchemaConverters}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.util.Random

/** schema_churn: every request is a new seeded (writer, reader) pair
  * and a small batch of rows: parse, compile, flatten, unflatten, then
  * to_avro and from_avro(writer, reader). No pair repeats, and a run
  * generates far more classes than Spark's codegen cache holds (100
  * entries), so the work is schema compile, expression build, planning
  * and codegen, which codec_bulk bypasses.
  *
  * Both reader-shaped outputs must equal, row for row, what Apache
  * Avro's own resolving reader makes of the same rows: an oracle
  * independent of graft.
  */
final class SchemaChurn(run: Run) extends Workload {
  import SchemaChurn._
  private val spark = run.spark
  private val pairRnd = new Random(run.seed)
  private val warmRnd = new Random(~run.seed)
  private var pairs = 0
  private var rows = 0L
  private val features = scala.collection.mutable.Map.empty[String, Int]
    .withDefaultValue(0)
  private val planNodes = scala.collection.mutable.ArrayBuffer.empty[Int]

  /** Output rows of one pair: unflatten(flatten) and from_avro(to_avro). */
  private def convert(wJson: String, rJson: String, input: Seq[Row])
      : (Array[Row], Array[Row]) = {
    val t = run.tracer
    val (w, r) = t.span("schema.parse")((Avro.create(wJson), Avro.create(rJson)))
    val (c, cr) = t.span("schema.resolve")((
      FlattenOps.compile(w, r).fold(e => sys.error(e), identity),
      FlattenOps.compile(r).fold(e => sys.error(e), identity)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(input, 1),
      SchemaConverters.toStructType(w, w.rootRecord))
    def exec(layer: String)(build: => DataFrame): Array[Row] = {
      val out = t.span(s"$layer.build")(build)
      t.span(s"$layer.plan")(out.queryExecution.executedPlan)
      val rows = t.span(s"$layer.exec")(out.collect())
      run.countPlanNodes(out, planNodes)
      rows
    }
    val viaFlat = exec("ops")(cr.unflatten(c.flatten(df)))
    val viaAvro = exec("functions")(df.select(AvroBinary.fromAvroBinary(
      AvroBinary.toAvroBinary(struct(df.columns.map(col).toIndexedSeq: _*), w), w, r)
      .as("r")).select("r.*"))
    (viaFlat, viaAvro)
  }

  private def makePair(rnd: Random, i: Int): (SchemaGen.Pair, Vector[Any]) = {
    val p = SchemaGen.pair(rnd, i)
    // rows per pair cycle through the range by index, like the depth
    val n = MinRows + (i * 97) % (MaxRows - MinRows + 1)
    (p, Vector.fill(n)(SchemaGen.value(p.writer, rnd)))
  }

  /** Warm-up pairs from their own seeded stream; each set-up draws new
    * ones, so no pair of the run repeats.
    */
  def setup(): Unit = {
    (1 to WarmPairs).foreach { i =>
      val (p, vals) = makePair(warmRnd, i)
      convert(SchemaGen.json(p.writer), SchemaGen.json(p.reader),
        vals.map(v => SchemaGen.sparkValue(v, p.writer).asInstanceOf[Row]))
    }
  }

  def measure(deadlineNs: Long): Unit =
    while (pairs < MinPairs || System.nanoTime() < deadlineNs) {
      val (p, vals) = makePair(pairRnd, pairs)
      val wJson = SchemaGen.json(p.writer)
      val rJson = SchemaGen.json(p.reader)
      val input = vals.map(v => SchemaGen.sparkValue(v, p.writer).asInstanceOf[Row])
      val id = pairs.toString
      pairs += 1
      rows += vals.size
      p.features.foreach { case (k, v) => if (k == "max_depth") features(s"depth_$v") += 1
        else features(k) += v }
      run.request("pair", id)(try convert(wJson, rJson, input) catch {
        case e: Exception =>
          System.err.println(s"pair $id failed\n  writer $wJson\n  reader $rJson"); throw e
      }).foreach {
        case (viaFlat, viaAvro) =>
          val want = oracle(p, wJson, rJson, vals)
          def canon(rs: Array[Row]) = rs.map(SchemaGen.canonSpark(_, p.reader)).sorted.toVector
          val flat = canon(viaFlat)
          val avro = canon(viaAvro)
          run.check(flat == want, s"$id flatten/unflatten differs from Apache Avro:\n" +
            s"  writer $wJson\n  reader $rJson\n  got  ${flat.take(2)}\n  want ${want.take(2)}")
          run.check(avro == want, s"$id to_avro/from_avro differs from Apache Avro:\n" +
            s"  writer $wJson\n  reader $rJson\n  got  ${avro.take(2)}\n  want ${want.take(2)}")
      }
    }

  /** Apache Avro: write with the writer schema, read resolving to the
    * reader schema.
    */
  private def oracle(p: SchemaGen.Pair, wJson: String, rJson: String,
      vals: Vector[Any]): Vector[String] = {
    import org.apache.avro.generic._
    import org.apache.avro.io._
    val ws = new org.apache.avro.Schema.Parser().parse(wJson)
    val rs = new org.apache.avro.Schema.Parser().parse(rJson)
    val writer = new GenericDatumWriter[AnyRef](ws)
    val reader = new GenericDatumReader[GenericRecord](ws, rs)
    vals.map { v =>
      val bytes = new java.io.ByteArrayOutputStream
      val enc = EncoderFactory.get().binaryEncoder(bytes, null)
      writer.write(SchemaGen.avroValue(v, p.writer, ws), enc)
      enc.flush()
      val rec = reader.read(null, DecoderFactory.get().binaryDecoder(bytes.toByteArray, null))
      SchemaGen.canonAvro(rec, p.reader, rs)
    }.sorted
  }

  /** Whether each known defect still reproduces; shapes that hit one are
    * kept out of the generated pairs (see [[SchemaGen]]) so that no
    * request fails, and this probe shows when a fix lands.
    */
  private var defects = Seq.empty[(String, String)]

  override def finish(): Unit =
    defects = KnownDefects.map { case (name, w, r, row) =>
      name -> (try { convert(w, r, Seq(row)); "fixed" }
        catch { case e: Exception => "reproduces: " + e.getClass.getSimpleName })
    }

  private def readyMs = run.times("pair").map(_ * 1000)

  /** Mean rows per pair over the median pair time, and that median. */
  def endToEnd: (Double, Double) =
    (rows.toDouble / pairs / Stats.median(run.times("pair")), Stats.median(readyMs))

  def figures: Seq[(String, Double, String, Int)] = {
    val ms = readyMs
    Seq(("schema_ready_ms_p50", Stats.median(ms), "ms", ms.size),
      ("schema_ready_ms_p90", Stats.quantile(ms, 0.9), "ms", ms.size),
      ("schema_ready_samples_beyond_p90", Stats.beyond(ms, 0.9).toDouble, "count", ms.size),
      ("checked_rows_s", endToEnd._1, "rows/s", ms.size))
  }

  def perLayer: Map[String, Double] = {
    val all = (run.times("pair") ++ run.tracedTimes("pair")).map(_ * 1000)
    run.exprLayers(planNodes.toSeq) ++ Map(
      "schema.parse_ms" -> run.spanMsPerRequest("schema.parse"),
      "schema.resolve_ms" -> run.spanMsPerRequest("schema.resolve"),
      "schema.ready_ms_p90" -> Stats.quantile(all, 0.9))
  }

  def facts: Seq[(String, String)] = Seq(
    "seed" -> run.seed.toString,
    "pairs" -> s"$pairs distinct (writer, reader) pairs, none repeated",
    "rows" -> s"$rows ($MinRows-$MaxRows per pair)",
    "feature_mix" -> features.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "),
    "warmup_pairs_per_setup" -> WarmPairs.toString) ++
    defects.map { case (k, v) => s"known_defect.$k" -> v }
}

object SchemaChurn {
  private def rec(fields: String) =
    s"""{"type":"record","name":"R","fields":[$fields]}"""

  /** (name, writer, reader, one writer row) of graft compile or
    * conversion failures on pairs Apache Avro resolves.
    */
  val KnownDefects: Seq[(String, String, String, Row)] = Seq(
    ("dropped_field_of_named_type",
      rec("""{"name":"a","type":"int"},{"name":"b","type":""" +
        """{"type":"record","name":"B","fields":[{"name":"x","type":"int"}]}}"""),
      rec("""{"name":"a","type":"int"}"""), Row(1, Row(2))),
    ("added_field_with_array_default",
      rec("""{"name":"a","type":"int"}"""),
      rec("""{"name":"a","type":"int"},""" +
        """{"name":"n","type":{"type":"array","items":"int"},"default":[]}"""), Row(1)),
    ("null_default_added_in_array_item",
      rec("""{"name":"xs","type":{"type":"array","items":""" +
        """{"type":"record","name":"I","fields":[{"name":"x","type":"int"}]}}}"""),
      rec("""{"name":"xs","type":{"type":"array","items":""" +
        """{"type":"record","name":"I","fields":[{"name":"x","type":"int"},""" +
        """{"name":"n","type":["null","long"],"default":null}]}}}"""),
      Row(Seq(Row(1)))))

  val MinPairs = 60
  val MinRows = 64
  val MaxRows = 256
  val WarmPairs = 5
}
