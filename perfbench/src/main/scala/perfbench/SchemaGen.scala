package perfbench

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.spark.sql.Row
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Seeded (writer, reader) Avro schema pairs, rows for them, and two
  * canonical renderings of reader-shaped rows: one from Spark rows in
  * graft's object form, one from Apache Avro records.
  *
  * Writers mix records nested up to `maxDepth`, nullable unions,
  * multi-branch unions, enums, arrays and maps. Readers drop fields, add
  * defaulted fields, reorder fields, promote numbers and add or reorder
  * enum symbols. Union branch sets avoid two branches of one Java type,
  * so Apache Avro's writer can pick the branch from the datum.
  */
object SchemaGen {
  sealed trait T
  final case class Prim(name: String) extends T
  final case class Enum(name: String, symbols: Vector[String]) extends T
  final case class Arr(items: T) extends T
  final case class MapT(values: T) extends T
  final case class Rec(name: String, fields: Vector[F]) extends T
  final case class Union(branches: Vector[T]) extends T {
    def nullable: Boolean = branches.size == 2 && branches.contains(Prim("null"))
    def nonNull: T = branches.find(_ != Prim("null")).get
  }
  final case class F(name: String, t: T, default: Option[String] = None)

  final case class Pair(writer: Rec, reader: Rec, features: Map[String, Int])

  val Promotions = Map("int" -> Vector("long", "float", "double"),
    "long" -> Vector("float", "double"), "float" -> Vector("double"))
  val UnionSets = Vector(
    Vector("null", "int", "string"), Vector("int", "string"),
    Vector("string", "double", "boolean"), Vector("null", "boolean", "double"))
  val Words = Vector("alpha", "beta", "gamma", "delta", "omega", "kappa",
    "sigma", "theta", "zeta", "lambda")

  // ------------------------------------------------------------ schemas

  final class Gen(rnd: Random) {
    private var named = 0
    val features = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    private def note(f: String): Unit = features(f) += 1
    private def fresh(p: String): String = { named += 1; s"$p$named" }

    def writer(maxDepth: Int): Rec = rec(1, maxDepth)

    private def rec(depth: Int, maxDepth: Int): Rec = {
      if (depth > features("max_depth")) features("max_depth") = depth
      val n = 2 + rnd.nextInt(5)
      Rec(fresh("R"), Vector.tabulate(n)(i => F(s"f$i", tpe(depth, maxDepth))))
    }

    private def prim(): Prim =
      Prim(Vector("int", "long", "float", "double", "string", "boolean")(rnd.nextInt(6)))

    private def tpe(depth: Int, maxDepth: Int): T = rnd.nextInt(100) match {
      case r if r < 34 => prim()
      case r if r < 46 => note("nullable"); Union(Vector(Prim("null"), prim()))
      case r if r < 54 => note("multi_union")
        Union(UnionSets(rnd.nextInt(UnionSets.size)).map(Prim))
      case r if r < 66 => note("enum")
        Enum(fresh("E"), Vector.tabulate(2 + rnd.nextInt(3))(i => s"S$i"))
      case r if r < 78 => note("array")
        Arr(if (depth < maxDepth && rnd.nextBoolean()) rec(depth + 1, maxDepth) else prim())
      case r if r < 86 => note("map"); MapT(prim())
      case _ if depth < maxDepth => note("record"); rec(depth + 1, maxDepth)
      case _ => prim()
    }

    def reader(w: Rec): Rec = evolveRec(w, inArray = false)

    private def evolve(t: T, inArray: Boolean): T = t match {
      case Prim(p) if Promotions.contains(p) && rnd.nextInt(4) == 0 =>
        note("promotion"); Prim(Promotions(p)(rnd.nextInt(Promotions(p).size)))
      case e: Enum =>
        val added = if (rnd.nextInt(3) == 0) { note("enum_added"); Vector("S9") }
          else Vector.empty
        val syms = e.symbols ++ added
        if (rnd.nextBoolean()) { note("enum_reordered"); e.copy(symbols = rnd.shuffle(syms)) }
        else e.copy(symbols = syms)
      case Arr(i) => Arr(evolve(i, inArray = true))
      case MapT(v) => MapT(evolve(v, inArray))
      case r: Rec => evolveRec(r, inArray)
      case u: Union if u.nullable => Union(u.branches.map {
        case Prim("null") => Prim("null")
        case b => evolve(b, inArray)
      })
      case other => other
    }

    private def evolveRec(r: Rec, inArray: Boolean): Rec = {
      // only fields without named types are dropped: see
      // SchemaChurn.KnownDefects
      val kept = r.fields.filter(f => hasNamed(f.t) || rnd.nextInt(7) != 0 ||
        { note("dropped"); false })
      val fs = (if (kept.isEmpty) r.fields.take(1) else kept).map(f => f.copy(t = evolve(f.t, inArray)))
      val added = Vector.tabulate(rnd.nextInt(3)) { i =>
        note("default"); defaulted(s"n$i", inArray) }
      val all = fs ++ added
      Rec(r.name, if (rnd.nextInt(3) == 0) { note("reordered"); rnd.shuffle(all) } else all)
    }

    private def hasNamed(t: T): Boolean = t match {
      case _: Rec | _: Enum => true
      case Arr(i) => hasNamed(i)
      case MapT(v) => hasNamed(v)
      case Union(bs) => bs.exists(hasNamed)
      case _ => false
    }

    // no array defaults, and no null defaults in array items: see
    // SchemaChurn.KnownDefects
    private def defaulted(name: String, inArray: Boolean): F =
      (if (inArray) Vector(0, 1, 2, 3, 5) else Vector(0, 1, 2, 3, 4, 5))(
        rnd.nextInt(if (inArray) 5 else 6)) match {
      case 0 => F(name, Prim("int"), Some(rnd.nextInt(100).toString))
      case 1 => F(name, Prim("string"), Some("\"" + Words(rnd.nextInt(Words.size)) + "\""))
      case 2 => F(name, Prim("boolean"), Some("true"))
      case 3 => F(name, Prim("double"), Some("2.5"))
      case 4 => F(name, Union(Vector(Prim("null"), Prim("long"))), Some("null"))
      case _ => F(name, Enum(fresh("E"), Vector("A", "B", "C")), Some("\"B\""))
    }
  }

  /** The `i`-th pair of a run: nesting depth cycles through 1-3 by
    * index, so every run has the same depth mix; the rest is seeded.
    */
  def pair(rnd: Random, i: Int): Pair = {
    val g = new Gen(rnd)
    val w = g.writer(1 + i % 3)
    val r = g.reader(w)
    Pair(w, r, g.features.toMap)
  }

  def json(t: T, seen: scala.collection.mutable.Set[String] =
      scala.collection.mutable.Set.empty): String = t match {
    case Prim(p) => "\"" + p + "\""
    case Enum(n, _) if seen(n) => "\"" + n + "\""
    case Enum(n, ss) => seen += n
      s"""{"type":"enum","name":"$n","symbols":[${ss.map("\"" + _ + "\"").mkString(",")}]}"""
    case Arr(i) => s"""{"type":"array","items":${json(i, seen)}}"""
    case MapT(v) => s"""{"type":"map","values":${json(v, seen)}}"""
    case Rec(n, _) if seen(n) => "\"" + n + "\""
    case Rec(n, fs) => seen += n
      val fj = fs.map(f => s"""{"name":"${f.name}","type":${json(f.t, seen)}""" +
        f.default.fold("")(d => s""","default":$d""") + "}")
      s"""{"type":"record","name":"$n","fields":[${fj.mkString(",")}]}"""
    case Union(bs) => bs.map(json(_, seen)).mkString("[", ",", "]")
  }

  // --------------------------------------------------------------- rows

  /** A writer value: unions carry (branch index, value). */
  def value(t: T, rnd: Random): Any = t match {
    case Prim("null") => null
    case Prim("int") => rnd.nextInt(2001) - 1000
    case Prim("long") => rnd.nextLong() % 1000000000000L
    case Prim("float") => (rnd.nextInt(20001) - 10000) / 8.0f
    case Prim("double") => rnd.nextGaussian() * 1000
    case Prim("string") => Words(rnd.nextInt(Words.size)) + rnd.nextInt(100)
    case Prim("boolean") => rnd.nextBoolean()
    case Prim(p) => sys.error(s"no values for $p")
    case Enum(_, ss) => ss(rnd.nextInt(ss.size))
    case Arr(i) => Vector.fill(rnd.nextInt(4))(value(i, rnd))
    case MapT(v) => (0 until rnd.nextInt(4)).map(k => s"k$k" -> value(v, rnd)).toMap
    case Rec(_, fs) => fs.map(f => value(f.t, rnd))
    case Union(bs) => val i = rnd.nextInt(bs.size); (i, value(bs(i), rnd))
  }

  /** graft's object form: nullable unions are plain nullable columns,
    * other unions a struct of `$type$` and one field per non-null branch.
    */
  def sparkValue(v: Any, t: T): Any = t match {
    case Arr(i) => v.asInstanceOf[Vector[Any]].map(sparkValue(_, i))
    case MapT(vt) => v.asInstanceOf[Map[String, Any]].map { case (k, x) => k -> sparkValue(x, vt) }
    case Rec(_, fs) => Row.fromSeq(v.asInstanceOf[Vector[Any]].zip(fs)
      .map { case (x, f) => sparkValue(x, f.t) })
    case u: Union =>
      val (i, x) = v.asInstanceOf[(Int, Any)]
      if (u.nullable) sparkValue(x, u.branches(i))
      else Row.fromSeq(i +: u.branches.zipWithIndex.collect {
        case (b, j) if b != Prim("null") => if (j == i) sparkValue(x, b) else null })
    case _ => v
  }

  def avroValue(v: Any, t: T, s: Schema): AnyRef = t match {
    case Enum(_, _) => new GenericData.EnumSymbol(s, v.asInstanceOf[String])
    case Arr(i) => new java.util.ArrayList[AnyRef](
      v.asInstanceOf[Vector[Any]].map(avroValue(_, i, s.getElementType)).asJava)
    case MapT(vt) => new java.util.HashMap[String, AnyRef](
      v.asInstanceOf[Map[String, Any]].map { case (k, x) => k -> avroValue(x, vt, s.getValueType) }.asJava)
    case Rec(_, fs) =>
      val r = new GenericData.Record(s)
      v.asInstanceOf[Vector[Any]].zip(fs).foreach { case (x, f) =>
        r.put(f.name, avroValue(x, f.t, s.getField(f.name).schema)) }
      r
    case u: Union =>
      val (i, x) = v.asInstanceOf[(Int, Any)]
      avroValue(x, u.branches(i), s.getTypes.get(i))
    case _ => v.asInstanceOf[AnyRef]
  }

  // ------------------------------------------------- canonical renderings

  private def prim(p: String, v: Any): String = p match {
    case "float" => java.lang.Float.toString(v.asInstanceOf[Number].floatValue)
    case "double" => java.lang.Double.toString(v.asInstanceOf[Number].doubleValue)
    case "string" => "\"" + v.toString + "\""
    case _ => v.toString
  }

  /** A reader-shaped Spark row value in canonical text. */
  def canonSpark(v: Any, t: T): String = t match {
    case u: Union if u.nullable => if (v == null) "null" else canonSpark(v, u.nonNull)
    case u: Union if v == null && u.branches.contains(Prim("null")) =>
      s"u${u.branches.indexOf(Prim("null"))}:null"
    case _ if v == null => "null"
    case Prim(p) => prim(p, v)
    case Enum(_, _) => v.toString
    case Arr(i) => v.asInstanceOf[scala.collection.Seq[Any]].map(canonSpark(_, i))
      .mkString("[", ",", "]")
    case MapT(vt) => v.asInstanceOf[scala.collection.Map[Any, Any]].toSeq
      .map { case (k, x) => k.toString -> canonSpark(x, vt) }.sortBy(_._1)
      .map { case (k, x) => s"$k:$x" }.mkString("{", ",", "}")
    case Rec(_, fs) =>
      val r = v.asInstanceOf[Row]
      fs.map(f => f.name + "=" + canonSpark(r.get(r.fieldIndex(f.name)), f.t))
        .mkString("{", ",", "}")
    case u: Union =>
      val r = v.asInstanceOf[Row]
      val i = r.getInt(0)
      val pos = u.branches.take(i).count(_ != Prim("null"))
      s"u$i:" + (if (u.branches(i) == Prim("null")) "null"
        else canonSpark(r.get(1 + pos), u.branches(i)))
  }

  /** A reader-shaped Apache Avro datum in the same canonical text. */
  def canonAvro(v: Any, t: T, s: Schema): String = t match {
    case u: Union if u.nullable =>
      if (v == null) "null"
      else canonAvro(v, u.nonNull, s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get)
    case u: Union =>
      val i = GenericData.get().resolveUnion(s, v)
      s"u$i:" + canonAvro(v, u.branches(i), s.getTypes.get(i))
    case _ if v == null => "null"
    case Prim(p) => prim(p, v)
    case Enum(_, _) => v.toString
    case Arr(i) => v.asInstanceOf[java.util.List[Any]].asScala
      .map(canonAvro(_, i, s.getElementType)).mkString("[", ",", "]")
    case MapT(vt) => v.asInstanceOf[java.util.Map[Any, Any]].asScala.toSeq
      .map { case (k, x) => k.toString -> canonAvro(x, vt, s.getValueType) }.sortBy(_._1)
      .map { case (k, x) => s"$k:$x" }.mkString("{", ",", "}")
    case Rec(_, fs) =>
      val r = v.asInstanceOf[GenericRecord]
      fs.map(f => f.name + "=" + canonAvro(r.get(f.name), f.t, s.getField(f.name).schema))
        .mkString("{", ",", "}")
  }
}
