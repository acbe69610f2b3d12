package graft.ops

import graft.schema._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructType, StructField}

/** Compiled (writer, reader) schema pair — the analog of the reference's
  * `compile{from, to}` result (reference: init.lua:400–479). Instead of
  * generating LuaJIT code, we build reusable Catalyst `Column` trees once
  * per pair; Catalyst + Tungsten then do the optimization/codegen
  * (SURVEY §3.2, §4.1).
  *
  * Flat form contract (reference: README.md:197–248):
  *  - leaf fields in reader-schema order, one column per leaf
  *  - nested non-nullable records inline their fields
  *  - nullable records / arrays / maps / fixed occupy a single column
  *  - enums become 0-based reader symbol indices
  *  - unions contribute `<path>_type` (reader branch index) + `<path>` value
  *  - service fields prefix the tuple (reference: init.lua:223–268)
  */
final case class Compiled(
    writer: AvroSchema,
    reader: AvroSchema,
    mapping: Mapping,
    serviceFields: Seq[DataType] = Nil,
    /** Opt-in for xflatten over nullable records (reference gates it
      * behind `alpha_nullable_record_xflatten`, compiler.lua:978–994).
      */
    alphaNullableRecordXFlatten: Boolean = false) {

  import FlattenOps._

  /** Flat column names in reader order, dots→underscores, `$type$`→`type`. */
  def flatNames: Vector[String] =
    (serviceFields.indices.map(i => s"sf$i") ++
      reader.getNames().map(sanitize)).toVector

  /** Flatten an object-form DataFrame (writer-shaped columns at the top
    * level) into the flat tuple form (reader-shaped), applying evolution.
    */
  def flatten(df: DataFrame, serviceValues: Seq[Column] = Nil): DataFrame = {
    require(serviceValues.length == serviceFields.length,
      s"expected ${serviceFields.length} service field values")
    val sf = serviceValues.zip(serviceFields).zipWithIndex.map {
      case ((c, dt), i) => c.cast(dt).as(s"sf$i")
    }
    val slots = flattenColumns(name => df(name))
    df.select(sf ++ slots: _*)
  }

  /** Human-readable dump of the compiled flat projection — the analog of
    * the reference's `dump_src`/`dump_il` compile options (init.lua:
    * 446–458): one line per flat slot, in flat order, with the slot's
    * name, Avro type spelling and the Catalyst expression that computes
    * it. Spark's `df.explain` shows the *physical* plan; this shows the
    * schema-compilation layer above it.
    */
  def explain: String = {
    val types = serviceFields.map(_.simpleString) ++ reader.getTypes()
    val exprs = serviceFields.indices.map(i => s"<service field $i>") ++
      flattenColumns(n => org.apache.spark.sql.functions.col(n))
        .map(_.toString)
    flatNames.lazyZip(types).lazyZip(exprs).zipWithIndex.map {
      case ((n, t, e), i) => f"${i + 1}%3d  $n ($t) = $e"
    }.mkString("\n")
  }

  /** The flat projection as named columns; `in` resolves a writer top-level
    * field name to its source column.
    */
  def flattenColumns(in: String => Column): Seq[Column] = {
    val rm = rootRecordMapping(mapping)
    val slots = recordSlots(this, rm, fname => in(fname), prefix = "",
      depth = Map(rm.to.fullName -> 1))
    slots.map { case (name, c) => c.as(name) }
  }

  /** Unflatten a flat-tuple DataFrame (writer flat order, positional) back
    * into object form (reader-shaped), dropping hidden fields and filling
    * defaults (reference: compiler.lua:770–891).
    */
  def unflatten(df: DataFrame): DataFrame = {
    val width = writerFlatWidth
    val cols = df.columns
    require(cols.length == serviceFields.length + width,
      s"expected ${serviceFields.length + width} flat columns, got ${cols.length}")
    val dataCols = cols.drop(serviceFields.length).map(df(_)).toVector
    val sf = cols.take(serviceFields.length).map(df(_))
    val rm = rootRecordMapping(mapping)
    val fields = unflattenRecord(this, rm, dataCols, new SlotCursor,
      Map(rm.to.fullName -> 1))
    df.select(sf ++ fields: _*)
  }

  /** Number of flat slots the writer schema occupies. */
  def writerFlatWidth: Int = FlattenOps.flatWidth(writer, writer.root)
}

object FlattenOps {

  def sanitize(path: String): String =
    path.replace(".$type$", "_type").replace('.', '_')

  def compile(writer: AvroSchema, reader: AvroSchema,
      downgrade: Boolean = false,
      serviceFields: Seq[DataType] = Nil,
      alphaNullableRecordXFlatten: Boolean = false)
      : Either[String, Compiled] =
    Compat.resolve(writer, reader, downgrade)
      .map(m => Compiled(writer, reader, m, serviceFields,
        alphaNullableRecordXFlatten))

  def compile(schema: AvroSchema): Either[String, Compiled] =
    compile(schema, schema)

  def rootRecordMapping(m: Mapping): Mapping.RecordM = m match {
    case rm: Mapping.RecordM => rm
    case other => throw new AvroSchemaError(
      "Expected a non-nullable record at the top level")
  }

  /** Flat width (slot count) of a type (reference: compiler.lua:99–155
    * schema_width — records with no var-length parts have fixed width).
    */
  def flatWidth(s: AvroSchema, t: AvroType): Int = s.resolve(t) match {
    case r: RecordType if !r.nullable =>
      r.fields.map(f => flatWidth(s, f.tpe)).sum
    case u: UnionType => 2
    case _ => 1
  }

  // ---------------------------------------------------------------------
  // flatten: object form → flat slots
  // ---------------------------------------------------------------------

  /** Slots for a record mapping: iterate READER fields; each mapped field
    * pulls from its writer column, unmapped fields take their default
    * (reference: compiler.lua:510–619).
    */
  def recordSlots(c: Compiled, rm: Mapping.RecordM, in: String => Column,
      prefix: String,
      depth: Map[String, Int] = Map.empty): Vector[(String, Column)] =
    rm.to.fields.zipWithIndex.flatMap { case (tf, o) =>
      val name = if (prefix.isEmpty) tf.name else s"$prefix${tf.name}"
      rm.o2i(o) match {
        case Some(i) =>
          val wf = rm.from.fields(i)
          slotsFor(c, rm.fieldIr(i), in(wf.name), c.reader.resolve(tf.tpe),
            name, depth)
        case None =>
          // reader-only field: synthesize from the default
          defaultSlots(c, c.reader.resolve(tf.tpe), tf.default.get, name)
      }
    }.toVector

  /** Slots for one reader field given its mapping and source column. */
  def slotsFor(c: Compiled, m: Mapping, src: Column, readerT: AvroType,
      name: String,
      depth: Map[String, Int] = Map.empty): Vector[(String, Column)] =
    m match {
      case Mapping.Prim(from, to, _) =>
        Vector(name -> castPrim(c, src, from, to))
      case Mapping.FixedM(_, _) => Vector(name -> src)
      case em: Mapping.EnumM => Vector(name -> enumS2I(em, src))
      case am: Mapping.ArrayM => Vector(name -> arrayValue(c, am, src, depth))
      case mm: Mapping.MapM => Vector(name -> mapValue(c, mm, src, depth))
      case rm: Mapping.RecordM
          if !rm.nullable && !readerIsNullableRecord(c, readerT) =>
        recordSlots(c, rm, fname => src.getField(fname), s"${name}_", depth)
      case rm: Mapping.RecordM =>
        // nullable record → single null-or-struct slot
        Vector(name -> when(src.isNotNull,
          recordValue(c, rm, src, depth)).otherwise(lit(null)))
      case um: Mapping.UnionM => unionSlots(c, um, src, name, depth)
    }

  private def readerIsNullableRecord(c: Compiled, t: AvroType): Boolean =
    c.reader.resolve(t) match {
      case r: RecordType => r.nullable
      case _ => false
    }

  def castPrim(c: Compiled, src: Column, from: String, to: String): Column =
    if (from == to) src
    else src.cast(SchemaConverters.toSparkType(c.reader, PrimitiveType(to)))

  /** Enum symbol → reader index; unmapped symbols become null (the
    * DataFrame-form of the reference's `(schema versioning)` runtime error —
    * strict mode surfaces them via [[Validate]]).
    */
  def enumS2I(em: Mapping.EnumM, src: Column): Column = {
    val pairs = em.from.symbols.zipWithIndex.collect {
      case (sym, i) if em.i2o(i).isDefined =>
        Seq(lit(sym), lit(em.i2o(i).get))
    }.flatten
    if (pairs.isEmpty) lit(null).cast(IntegerType)
    else element_at(map(pairs: _*), src).cast(IntegerType)
  }

  /** Enum reader-index → symbol string (unflatten direction). */
  def enumI2S(em: Mapping.EnumM, src: Column): Column = {
    // src is a WRITER symbol index; remap i→o then render reader symbol
    val pairs = em.from.symbols.indices.collect {
      case i if em.i2o(i).isDefined =>
        Seq(lit(i), lit(em.to.symbols(em.i2o(i).get)))
    }.flatten
    if (pairs.isEmpty) lit(null) else element_at(map(pairs: _*), src.cast(IntegerType))
  }

  // ---------------------------------------------------------------------
  // value-level conversion (inside arrays/maps/nullable records/unions the
  // subtree stays nested — reference keeps subarrays, we keep structs)
  // ---------------------------------------------------------------------

  def valueOf(c: Compiled, m: Mapping, src: Column,
      depth: Map[String, Int] = Map.empty): Column = m match {
    case Mapping.Prim(from, to, _) => castPrim(c, src, from, to)
    case Mapping.FixedM(_, _) => src
    case em: Mapping.EnumM => enumS2I(em, src)
    case am: Mapping.ArrayM => arrayValue(c, am, src, depth)
    case mm: Mapping.MapM => mapValue(c, mm, src, depth)
    case rm: Mapping.RecordM =>
      if (rm.nullable) when(src.isNotNull, recordValue(c, rm, src, depth))
        .otherwise(lit(null))
      else recordValue(c, rm, src, depth)
    case um: Mapping.UnionM => unionValue(c, um, src, depth)
  }

  def arrayValue(c: Compiled, am: Mapping.ArrayM, src: Column,
      depth: Map[String, Int] = Map.empty): Column = {
    val body = (x: Column) => valueOf(c, am.nested, x, depth)
    val out = transform(src, body)
    if (am.nullable) when(src.isNotNull, out).otherwise(lit(null)) else out
  }

  def mapValue(c: Compiled, mm: Mapping.MapM, src: Column,
      depth: Map[String, Int] = Map.empty): Column = {
    val out = transform_values(src, (_: Column, v: Column) =>
      valueOf(c, mm.nested, v, depth))
    if (mm.nullable) when(src.isNotNull, out).otherwise(lit(null)) else out
  }

  /** Record as a nested struct value in READER field order with defaults.
    * Recursive schemas expand at most
    * [[SchemaConverters.MaxRecursionDepth]] times (SURVEY §7.3) — deeper
    * levels truncate to null, matching the depth-limited Spark type.
    */
  def recordValue(c: Compiled, rm: Mapping.RecordM, src: Column,
      depth: Map[String, Int] = Map.empty): Column = {
    val name = rm.to.fullName
    if (depth.getOrElse(name, 0) >= SchemaConverters.MaxRecursionDepth)
      return lit(null)
    val d2 = depth.updated(name, depth.getOrElse(name, 0) + 1)
    val fields = rm.to.fields.zipWithIndex.map { case (tf, o) =>
      val v = rm.o2i(o) match {
        case Some(i) =>
          valueOf(c, rm.fieldIr(i), src.getField(rm.from.fields(i).name), d2)
        case None => defaultValueColumn(c, c.reader.resolve(tf.tpe),
          tf.default.get)
      }
      v.as(tf.name)
    }
    struct(fields: _*)
  }

  /** Union slots: `<name>_type` (reader branch index) + `<name>` value
    * (reference: compiler.lua:624–692; README flat form `[branch, value]`).
    */
  def unionSlots(c: Compiled, um: Mapping.UnionM, src: Column,
      name: String,
      depth: Map[String, Int] = Map.empty): Vector[(String, Column)] = {
    val (tag, value) = unionTagAndValue(c, um, src, depth)
    Vector(s"${name}_type" -> tag, name -> value)
  }

  def unionValue(c: Compiled, um: Mapping.UnionM, src: Column,
      depth: Map[String, Int] = Map.empty): Column = {
    val (tag, value) = unionTagAndValue(c, um, src, depth)
    struct(tag.as("$type$"), value.as("value"))
  }

  /** Core union conversion. Handles the 4 writer/reader shape combos.
    * The value column type: reader's single non-null branch type when the
    * reader union is `["null",T]` (or reader is non-union), otherwise a
    * struct of reader branch fields.
    */
  def unionTagAndValue(c: Compiled, um: Mapping.UnionM, src: Column,
      depth: Map[String, Int] = Map.empty): (Column, Column) = {
    val readerNullIdx = um.toBranches.indexWhere(_.typeName == "null")
    val readerNonNull = um.toBranches.zipWithIndex
      .filter(_._1.typeName != "null")
    val readerSimple = readerNonNull.length <= 1

    if (!um.fromIsUnion) {
      // scalar writer → union reader: constant branch
      val i = 0
      val o = um.i2o(i).getOrElse(
        throw new AvroSchemaError("No common types"))
      val conv = valueOf(c, um.branchIr(i).get, src, depth)
      val writerNullable = um.fromBranches(i).nullable
      val tag =
        if (writerNullable && readerNullIdx >= 0)
          when(src.isNull, lit(readerNullIdx)).otherwise(lit(o))
        else lit(o)
      val value = if (readerSimple) conv
        else structBranchValue(c, um, Seq((o, conv, tag)))
      (tag.cast(IntegerType), value)
    } else if (isNullableScalarBranches(um.fromBranches)) {
      // writer ["null", T] → src is a nullable T column
      val tIdx = um.fromBranches.indexWhere(_.typeName != "null")
      val nIdx = um.fromBranches.indexWhere(_.typeName == "null")
      val tOut = um.i2o(tIdx)
      val nOut = if (nIdx >= 0) um.i2o(nIdx) else None
      val tag = when(src.isNull,
        lit(nOut.orNull).cast(IntegerType))
        .otherwise(lit(tOut.orNull).cast(IntegerType))
      val conv = um.branchIr(tIdx).map(m => valueOf(c, m, src, depth))
        .getOrElse(lit(null))
      val value = if (readerSimple) when(src.isNotNull, conv)
        else structBranchValue(c, um,
          Seq((tOut.getOrElse(-1), when(src.isNotNull, conv), tag)))
      (tag, value)
    } else {
      // general writer union → src is struct{$type$, branch fields}
      val wTag = src.getField("$type$")
      // remap writer tag → reader tag
      val tagPairs = um.i2o.zipWithIndex.collect {
        case (Some(o), i) => Seq(lit(i), lit(o))
      }.flatten
      val tag = if (tagPairs.isEmpty) lit(null).cast(IntegerType)
        else element_at(map(tagPairs: _*), wTag.cast(IntegerType))
      val convs = um.fromBranches.zipWithIndex.collect {
        case (fb, i) if fb.typeName != "null" && um.branchIr(i).isDefined =>
          val fieldName = SchemaConverters.branchFieldName(c.writer, fb)
          (i, um.i2o(i).get, valueOf(c, um.branchIr(i).get,
            src.getField(fieldName), depth))
      }
      if (readerSimple) {
        val value = convs.foldLeft(lit(null).cast(
          readerNonNull.headOption.map(b =>
            SchemaConverters.toSparkType(c.reader, b._1, depth))
            .getOrElse(IntegerType))) {
          case (acc, (i, _, conv)) => when(wTag === i, conv).otherwise(acc)
        }
        (tag, value)
      } else {
        val fields = readerNonNull.map { case (rb, o) =>
          val fieldName = SchemaConverters.branchFieldName(c.reader, rb)
          val v = convs.filter(_._2 == o).foldLeft(
            lit(null).cast(SchemaConverters.toSparkType(c.reader, rb, depth))) {
            case (acc, (i, _, conv)) => when(wTag === i, conv).otherwise(acc)
          }
          v.as(fieldName)
        }
        (tag, struct((tag.as("$type$") +: fields): _*))
      }
    }
  }

  private def structBranchValue(c: Compiled, um: Mapping.UnionM,
      actives: Seq[(Int, Column, Column)]): Column = {
    val readerNonNull = um.toBranches.zipWithIndex
      .filter(_._1.typeName != "null")
    val fields = readerNonNull.map { case (rb, o) =>
      val v = actives.find(_._1 == o).map(_._2)
        .getOrElse(lit(null).cast(SchemaConverters.toSparkType(c.reader, rb)))
      v.as(SchemaConverters.branchFieldName(c.reader, rb))
    }
    val tag = actives.headOption.map(_._3).getOrElse(lit(null))
    struct((tag.cast(IntegerType).as("$type$") +: fields): _*)
  }

  private def isNullableScalarBranches(bs: Vector[AvroType]): Boolean =
    bs.length == 2 && bs.exists(_.typeName == "null")

  // ---------------------------------------------------------------------
  // defaults as columns
  // ---------------------------------------------------------------------

  def defaultSlots(c: Compiled, t: AvroType, d: JValue,
      name: String): Vector[(String, Column)] = c.reader.resolve(t) match {
    case r: RecordType if !r.nullable =>
      val dObj = d match {
        case o: JObject => o
        case _ => JObject(Vector.empty)
      }
      r.fields.flatMap { f =>
        val fd = dObj.get(f.name).orElse(f.default).getOrElse(JNull)
        defaultSlots(c, f.tpe, fd, s"${name}_${f.name}")
      }.toVector
    case u: UnionType =>
      // default corresponds to the first branch (frontend.lua:975–983)
      val o = 0
      val tag = if (d == JNull && u.branches.head.typeName == "null")
        lit(u.branches.indexWhere(_.typeName == "null"))
      else lit(0)
      Vector(s"${name}_type" -> tag.cast(IntegerType),
        name -> defaultValueColumn(c, u, d))
    case other => Vector(name -> defaultValueColumn(c, other, d))
  }

  def defaultValueColumn(c: Compiled, t: AvroType, d: JValue): Column =
    literalFor(c.reader, c.reader.resolve(t), d)

  def literalFor(s: AvroSchema, t: AvroType, d: JValue): Column = t match {
    case u: UnionType =>
      val first = s.resolve(u.branches.head)
      val nonNull = u.branches.map(s.resolve).filter(_.typeName != "null")
      if (u.isNullableScalar || nonNull.length <= 1)
        if (d == JNull) lit(null).cast(
          nonNull.headOption.map(SchemaConverters.toSparkType(s, _))
            .getOrElse(IntegerType))
        else literalFor(s, first, d)
      else {
        // struct-form union literal: first branch active
        val tagIdx = if (d == JNull) u.branches.indexWhere(_.typeName == "null")
          else 0
        val fields = nonNull.zipWithIndex.map { case (b, k) =>
          val v = if (d != JNull && s.resolve(u.branches.head) == b)
            literalFor(s, b, d)
          else lit(null).cast(SchemaConverters.toSparkType(s, b))
          v.as(SchemaConverters.branchFieldName(s, b))
        }
        struct((lit(tagIdx).as("$type$") +: fields): _*)
      }
    case rec: RecordType =>
      val dObj = d match { case o: JObject => o; case _ => JObject(Vector.empty) }
      if (d == JNull && rec.nullable)
        lit(null).cast(SchemaConverters.toSparkType(s, rec))
      else struct(rec.fields.map { f =>
        val fd = dObj.get(f.name).orElse(f.default).getOrElse(JNull)
        literalFor(s, s.resolve(f.tpe), fd).as(f.name)
      }: _*)
    case e: EnumType => d match {
      case JString(sym) => lit(e.symbolIndex.get(sym).map(_.toInt).orNull)
        .cast(IntegerType)
      case _ => lit(null).cast(IntegerType)
    }
    case a: ArrayType => d match {
      case JArray(items) if items.isEmpty =>
        array().cast(SchemaConverters.toSparkType(s, a))
      case JArray(items) =>
        array(items.map(i => literalFor(s, s.resolve(a.items), i)): _*)
      case _ => lit(null).cast(SchemaConverters.toSparkType(s, a))
    }
    case m: MapType => d match {
      case JObject(fs) if fs.isEmpty =>
        map().cast(SchemaConverters.toSparkType(s, m))
      case JObject(fs) => map(fs.flatMap { case (k, v) =>
        Seq(lit(k), literalFor(s, s.resolve(m.values), v)) }: _*)
      case _ => lit(null).cast(SchemaConverters.toSparkType(s, m))
    }
    case other =>
      val dt = SchemaConverters.toSparkType(s, other)
      d match {
        case JNull => lit(null).cast(dt)
        case JBool(b) => lit(b).cast(dt)
        case JLong(n) => lit(n).cast(dt)
        case JDouble(x) => lit(x).cast(dt)
        case JString(str) => other match {
          case PrimitiveType("bytes", _) | _: FixedType =>
            lit(str.getBytes("ISO-8859-1"))
          case _ => lit(str).cast(dt)
        }
        case _ => lit(null).cast(dt)
      }
  }

  // ---------------------------------------------------------------------
  // unflatten: flat slots → object form
  // ---------------------------------------------------------------------

  final class SlotCursor { var pos = 0
    def take(): Int = { val p = pos; pos += 1; p } }

  /** Rebuild reader-form object columns from writer-order flat slots,
    * dropping hidden fields (reference: compiler.lua:770–841).
    * Returns one Column per visible reader top-level field.
    */
  def unflattenRecord(c: Compiled, rm: Mapping.RecordM,
      slots: Vector[Column], cursor: SlotCursor,
      depth: Map[String, Int] = Map.empty): Vector[Column] = {
    // writer slots are in WRITER field order; collect value per writer field
    val writerVals: Vector[Option[Column]] =
      rm.from.fields.zipWithIndex.map { case (wf, i) =>
        val m = rm.fieldIr(i)
        val v = unflattenValue(c, m, c.writer.resolve(wf.tpe), slots, cursor,
          depth)
        if (rm.i2o(i).isDefined) Some(v) else { val _ = v; None }
      }
    rm.to.fields.zipWithIndex.flatMap { case (tf, o) =>
      if (tf.hidden) None
      else {
        val v = rm.o2i(o) match {
          case Some(i) => writerVals(i).get
          case None => literalObjectFor(c.reader,
            c.reader.resolve(tf.tpe), tf.default.get)
        }
        Some(v.as(tf.name))
      }
    }
  }

  /** Consume slots for one writer field and produce the reader-form value. */
  def unflattenValue(c: Compiled, m: Mapping, writerT: AvroType,
      slots: Vector[Column], cursor: SlotCursor,
      depth: Map[String, Int] = Map.empty): Column = m match {
    case Mapping.Prim(from, to, _) =>
      castPrim(c, slots(cursor.take()), from, to)
    case Mapping.FixedM(_, _) => slots(cursor.take())
    case em: Mapping.EnumM => enumI2S(em, slots(cursor.take()))
    case am: Mapping.ArrayM =>
      // array occupies one slot; elements are flat-form values
      val src = slots(cursor.take())
      transform(src, x => unflattenNested(c, am.nested, x, depth))
    case mm: Mapping.MapM =>
      val src = slots(cursor.take())
      transform_values(src, (_: Column, v: Column) =>
        unflattenNested(c, mm.nested, v, depth))
    case rm: Mapping.RecordM if !rm.nullable =>
      // inline: consume each writer field's slots
      val fields = unflattenRecord(c, rm, slots, cursor, depth)
      struct(fields: _*)
    case rm: Mapping.RecordM =>
      // nullable record: single null-or-struct slot
      val src = slots(cursor.take())
      when(src.isNotNull, unflattenNested(c, rm, src, depth))
        .otherwise(lit(null))
    case um: Mapping.UnionM =>
      val tagSlot = slots(cursor.take())
      val valueSlot = slots(cursor.take())
      unflattenUnion(c, um, tagSlot, valueSlot, depth)
  }

  /** Flat-form nested value (struct/array element) → reader object form.
    * Recursive schemas truncate at [[SchemaConverters.MaxRecursionDepth]].
    */
  def unflattenNested(c: Compiled, m: Mapping, src: Column,
      depth: Map[String, Int] = Map.empty): Column = m match {
    case Mapping.Prim(from, to, _) => castPrim(c, src, from, to)
    case Mapping.FixedM(_, _) => src
    case em: Mapping.EnumM => enumI2S(em, src)
    case am: Mapping.ArrayM =>
      transform(src, x => unflattenNested(c, am.nested, x, depth))
    case mm: Mapping.MapM =>
      transform_values(src, (_: Column, v: Column) =>
        unflattenNested(c, mm.nested, v, depth))
    case rm: Mapping.RecordM =>
      val nm = rm.to.fullName
      if (depth.getOrElse(nm, 0) >= SchemaConverters.MaxRecursionDepth)
        lit(null)
      else {
        val d2 = depth.updated(nm, depth.getOrElse(nm, 0) + 1)
        val built = struct(rm.to.fields.zipWithIndex.flatMap { case (tf, o) =>
          if (tf.hidden) None else Some((rm.o2i(o) match {
            case Some(i) => unflattenNested(c, rm.fieldIr(i),
              src.getField(rm.from.fields(i).name), d2)
            case None => literalObjectFor(c.reader,
              c.reader.resolve(tf.tpe), tf.default.get)
          }).as(tf.name))
        }: _*)
        if (rm.nullable) when(src.isNotNull, built).otherwise(lit(null))
        else built
      }
    case um: Mapping.UnionM =>
      unflattenUnion(c, um, src.getField("$type$"), src.getField("value"),
        depth)
  }

  /** Union decode: writer tag + value → reader-form value. The reader-form
    * union value is the unionStruct (or nullable scalar for `["null",T]`).
    */
  def unflattenUnion(c: Compiled, um: Mapping.UnionM, wTag: Column,
      value: Column, depth: Map[String, Int] = Map.empty): Column = {
    val readerNonNull = um.toBranches.zipWithIndex
      .filter(_._1.typeName != "null")
    val readerSimple = readerNonNull.length <= 1
    val writerNullIdx = um.fromBranches.indexWhere(_.typeName == "null")
    // the flat value slot is a bare scalar when the writer union had at
    // most one non-null branch; otherwise it is the union struct and the
    // active branch's value sits in its named field
    val writerSimple =
      um.fromBranches.count(_.typeName != "null") <= 1
    def branchValue(i: Int): Column =
      if (writerSimple) value
      else value.getField(
        SchemaConverters.branchFieldName(c.writer, um.fromBranches(i)))
    if (readerSimple) {
      // reader ["null",T] or single-branch: nullable scalar value
      readerNonNull.headOption match {
        case None => lit(null)
        case Some((rb, o)) =>
          val convs = um.fromBranches.indices.filter(i =>
            um.i2o(i).contains(o) && um.fromBranches(i).typeName != "null")
          convs.foldLeft(lit(null).cast(
            SchemaConverters.toSparkType(c.reader, rb, depth))) { (acc, i) =>
            when(wTag === i,
              unflattenNested(c, um.branchIr(i).get, branchValue(i), depth))
              .otherwise(acc)
          }
      }
    } else {
      // struct-form reader union
      val tagPairs = um.i2o.zipWithIndex.collect {
        case (Some(o), i) => Seq(lit(i), lit(o)) }.flatten
      val rTag = if (tagPairs.isEmpty) lit(null).cast(IntegerType)
        else element_at(map(tagPairs: _*), wTag.cast(IntegerType))
      val fields = readerNonNull.map { case (rb, o) =>
        val convs = um.fromBranches.indices.filter(i =>
          um.i2o(i).contains(o) && um.fromBranches(i).typeName != "null")
        convs.foldLeft(lit(null).cast(
          SchemaConverters.toSparkType(c.reader, rb, depth))) { (acc, i) =>
          when(wTag === i,
            unflattenNested(c, um.branchIr(i).get, branchValue(i), depth))
            .otherwise(acc)
        }.as(SchemaConverters.branchFieldName(c.reader, rb))
      }
      struct((rTag.as("$type$") +: fields): _*)
    }
  }

  /** Object-form literal for reader-only defaulted fields (enum stays a
    * symbol string in object form, unlike the flat form's index).
    */
  def literalObjectFor(s: AvroSchema, t: AvroType, d: JValue): Column =
    t match {
      case e: EnumType => d match {
        case JString(sym) => lit(sym)
        case _ => lit(null).cast(org.apache.spark.sql.types.StringType)
      }
      case rec: RecordType =>
        val dObj = d match { case o: JObject => o
          case _ => JObject(Vector.empty) }
        if (d == JNull && rec.nullable)
          lit(null).cast(SchemaConverters.toStructType(s, rec))
        else struct(rec.fields.filterNot(_.hidden).map { f =>
          val fd = dObj.get(f.name).orElse(f.default).getOrElse(JNull)
          literalObjectFor(s, s.resolve(f.tpe), fd).as(f.name)
        }: _*)
      case other => literalFor(s, other, d)
    }
}
