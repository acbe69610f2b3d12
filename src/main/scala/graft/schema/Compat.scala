package graft.schema

import scala.collection.mutable

/** Evolution mapping between a writer ("from") and reader ("to") schema —
  * the analog of the reference's IR builder (reference:
  * frontend.lua:1042–1235 build_ir) powering `are_compatible` and
  * `compile{from, to}`.
  *
  * The produced [[Mapping]] is the input to the flatten/unflatten projection
  * builders: per-record i2o/o2i field index maps, primitive promotions
  * (reference: frontend.lua:54–60), enum symbol remapping, union branch
  * mapping, and default-fill for fields missing in the source.
  */
sealed trait Mapping

object Mapping {
  /** Primitive copy or promotion; `from`/`to` are primitive type names. */
  final case class Prim(from: String, to: String, nullable: Boolean)
      extends Mapping
  final case class FixedM(size: Int, nullable: Boolean) extends Mapping
  final case class ArrayM(nested: Mapping, nullable: Boolean) extends Mapping
  final case class MapM(nested: Mapping, nullable: Boolean) extends Mapping
  /** i2o(i) = Some(readerSymbolIndex) or None (runtime versioning error). */
  final case class EnumM(from: EnumType, to: EnumType,
      i2o: Vector[Option[Int]], nullable: Boolean) extends Mapping
  /** Field index maps are writer→reader (i2o) and reader→writer (o2i);
    * `fieldIr(i)` maps writer field i to its reader counterpart's type (or
    * to itself when the reader dropped it — the value is still
    * type-checked, reference: frontend.lua:1183–1185).
    */
  final class RecordM(val from: RecordType, val to: RecordType,
      val i2o: Vector[Option[Int]], val o2i: Vector[Option[Int]],
      val nullable: Boolean) extends Mapping {
    var fieldIr: Vector[Mapping] = Vector.empty
  }
  /** Union-to-union / union-to-scalar / scalar-to-union mapping.
    * `fromBranches`/`toBranches` are the (possibly singleton-wrapped)
    * branch lists; i2o maps writer branch → reader branch.
    */
  final case class UnionM(fromBranches: Vector[AvroType],
      toBranches: Vector[AvroType], fromIsUnion: Boolean, toIsUnion: Boolean,
      i2o: Vector[Option[Int]], branchIr: Vector[Option[Mapping]])
      extends Mapping
}

object Compat {
  import Mapping._

  private final class Frame(var from: AvroType, var to: AvroType,
      var ptrFrom: Int = -1, var ptrTo: Int = -1)

  private final class Ctx(val writer: AvroSchema, val reader: AvroSchema,
      val downgrade: Boolean) {
    val stack = mutable.ArrayBuffer.empty[Frame]
    val mem = mutable.Map.empty[(String, String), RecordM]
    val enumMem = mutable.Map.empty[(String, String), EnumM]
  }

  final class CompatError(val msg: String) extends RuntimeException(msg)

  def resolve(writer: AvroSchema, reader: AvroSchema,
      downgrade: Boolean = false): Either[String, Mapping] = {
    val ctx = new Ctx(writer, reader, downgrade)
    try Right(build(ctx, writer.root, reader.root))
    catch { case e: CompatError => Left(e.msg) }
  }

  private def err(ctx: Ctx, offset: Int, msg: String): Nothing = {
    val frames = ctx.stack.dropRight(offset)
    val parts = mutable.ArrayBuffer.empty[String]
    frames.foreach { fr =>
      (fr.from, fr.to) match {
        case (_: UnionType, _) | (_, _: UnionType) => parts += "<union>"
        case (f: NamedType, t: NamedType) =>
          if (f.name == t.name) parts += f.name
          else parts += s"(${f.name} aka ${t.name})"
        case (f, _) => parts += s"<${f.typeName}>"
      }
      (fr.from, fr.to) match {
        case (f: RecordType, t: RecordType)
            if fr.ptrFrom >= 0 && fr.ptrTo >= 0 =>
          val fn = f.fields(fr.ptrFrom).name
          val tn = t.fields(fr.ptrTo).name
          parts += (if (fn == tn) fn else s"($fn aka $tn)")
        case _ => ()
      }
    }
    throw new CompatError(
      if (parts.isEmpty) msg else s"${parts.mkString("/")}: $msg")
  }

  private def qname(t: AvroType): String = t match {
    case n: NamedType => n.fullName
    case other => other.displayName
  }

  /** Type-level match check incl. alias renames
    * (reference: frontend.lua:718–735 complex_types_may_match).
    */
  private def mayMatch(ctx: Ctx, from: AvroType, to: AvroType): Boolean = {
    if (from.typeName != to.typeName) return false
    if (from.nullable && !to.nullable) return false
    (from, to) match {
      case (f: NamedType, t: NamedType) =>
        if (f.name == t.name) true
        else {
          val (aliasHolder, name) =
            if (ctx.downgrade) (f, t.name) else (t, f.name)
          aliasHolder.aliases.contains(name)
        }
      case _ => true
    }
  }

  private def isPrimitive(t: AvroType): Boolean = t.isInstanceOf[PrimitiveType]

  private def promotes(from: String, to: String): Boolean =
    AvroPrimitives.promotions.get(from).exists(_.contains(to))

  private def inFrame[A](ctx: Ctx, from: AvroType, to: AvroType)(
      body: Frame => A): A = {
    val fr = new Frame(from, to)
    ctx.stack += fr
    try body(fr) finally ctx.stack.remove(ctx.stack.length - 1)
  }

  private def build(ctx: Ctx, fromRaw: AvroType, toRaw: AvroType): Mapping = {
    val from = ctx.writer.resolve(fromRaw)
    val to = ctx.reader.resolve(toRaw)
    (from, to) match {
      case (fu: UnionType, _) => buildUnion(ctx, from, to)
      case (_, tu: UnionType) => buildUnion(ctx, from, to)
      case (f: PrimitiveType, t: PrimitiveType) =>
        inFrame(ctx, from, to) { _ =>
          // non-nullable source accepts a nullable target
          // (reference: frontend.lua:1085–1097)
          if (f.nullable && !t.nullable)
            err(ctx, 1, s"Types incompatible: ${f.displayName} and ${qname(t)}")
          if (f.typeName == t.typeName)
            Prim(f.typeName, t.typeName, f.nullable)
          else if (promotes(f.typeName, t.typeName))
            Prim(f.typeName, t.typeName, f.nullable)
          else
            err(ctx, 1, s"Types incompatible: ${f.displayName} and ${qname(t)}")
        }
      case _ => inFrame(ctx, from, to) { fr =>
        if (!mayMatch(ctx, from, to))
          err(ctx, 1, s"Types incompatible: ${qname(from)} and ${qname(to)}")
        (from, to) match {
          case (f: ArrayType, t: ArrayType) =>
            ArrayM(build(ctx, f.items, t.items), f.nullable)
          case (f: MapType, t: MapType) =>
            MapM(build(ctx, f.values, t.values), f.nullable)
          case (f: FixedType, t: FixedType) =>
            if (f.size != t.size)
              err(ctx, 0, s"Size mismatch: ${f.size} vs ${t.size}")
            FixedM(f.size, f.nullable)
          case (f: EnumType, t: EnumType) => buildEnum(ctx, f, t)
          case (f: RecordType, t: RecordType) => buildRecord(ctx, fr, f, t)
          case _ =>
            err(ctx, 1,
              s"Types incompatible: ${qname(from)} and ${qname(to)}")
        }
      }
    }
  }

  private def buildEnum(ctx: Ctx, f: EnumType, t: EnumType): EnumM = {
    val key = (f.fullName, t.fullName)
    ctx.enumMem.getOrElseUpdate(key, {
      val i2o = f.symbols.map(s => t.symbolIndex.get(s))
      if (i2o.forall(_.isEmpty)) err(ctx, 0, "No common symbols")
      EnumM(f, t, i2o, f.nullable)
    })
  }

  private def buildRecord(ctx: Ctx, fr: Frame, f: RecordType,
      t: RecordType): RecordM = {
    val key = (f.fullName, t.fullName)
    ctx.mem.get(key).foreach(return _)
    // Field mapping by name; aliases live on the "newer" side — the reader
    // normally, the writer under downgrade
    // (reference: frontend.lua:990–997 create_records_field_mapping).
    val i2oArr = Array.fill[Option[Int]](f.fields.length)(None)
    val o2iArr = Array.fill[Option[Int]](t.fields.length)(None)
    def fieldMap(r: RecordType): Map[String, Int] = {
      val m = mutable.Map.empty[String, Int]
      r.fields.zipWithIndex.foreach { case (fld, i) =>
        m(fld.name) = i
        fld.aliases.foreach(a => m.getOrElseUpdate(a, i))
      }
      m.toMap
    }
    if (ctx.downgrade) {
      val wMap = fieldMap(f)
      t.fields.zipWithIndex.foreach { case (tf, o) =>
        wMap.get(tf.name).foreach { i =>
          if (i2oArr(i).isEmpty && o2iArr(o).isEmpty) {
            i2oArr(i) = Some(o); o2iArr(o) = Some(i)
          }
        }
      }
    } else {
      val tMap = fieldMap(t)
      f.fields.zipWithIndex.foreach { case (wf, i) =>
        tMap.get(wf.name).foreach { o =>
          if (i2oArr(i).isEmpty && o2iArr(o).isEmpty) {
            i2oArr(i) = Some(o); o2iArr(o) = Some(i)
          }
        }
      }
    }
    val rec = new RecordM(f, t, i2oArr.toVector, o2iArr.toVector, f.nullable)
    ctx.mem(key) = rec
    try {
      val irs = f.fields.zipWithIndex.map { case (wf, i) =>
        i2oArr(i) match {
          case Some(o) =>
            fr.ptrFrom = i; fr.ptrTo = o
            val tf = t.fields(o)
            val m = build(ctx, wf.tpe, tf.tpe)
            if (wf.default.isDefined && tf.default.isEmpty)
              err(ctx, 0, "Default value defined in source schema " +
                "but missing in target schema")
            m
          case None =>
            fr.ptrFrom = -1; fr.ptrTo = -1
            // dropped field: still type-checked against its own type
            buildSelf(ctx, wf.tpe)
        }
      }
      fr.ptrFrom = -1; fr.ptrTo = -1
      t.fields.zipWithIndex.foreach { case (tf, o) =>
        if (tf.default.isEmpty && o2iArr(o).isEmpty)
          err(ctx, 0, s"Field ${tf.name} is missing in source schema, " +
            "and no default value was provided")
      }
      rec.fieldIr = irs
      rec
    } catch { case e: Throwable => ctx.mem.remove(key); throw e }
  }

  /** Identity mapping of a dropped writer field's type onto itself
    * (always succeeds), resolved in the WRITER schema on both sides: a
    * named type of the dropped subtree need not exist in the reader.
    */
  private def buildSelf(ctx: Ctx, t: AvroType): Mapping =
    build(new Ctx(ctx.writer, ctx.writer, ctx.downgrade), t, t)

  private def buildUnion(ctx: Ctx, from: AvroType, to: AvroType): Mapping =
    inFrame(ctx, from, to) { _ =>
      val fromBranches = from match {
        case u: UnionType => u.branches.map(ctx.writer.resolve)
        case other => Vector(other)
      }
      val toBranches = to match {
        case u: UnionType => u.branches.map(ctx.reader.resolve)
        case other => Vector(other)
      }
      val i2o = Array.fill[Option[Int]](fromBranches.length)(None)
      val branchIr = Array.fill[Option[Mapping]](fromBranches.length)(None)
      var haveCommon = false
      fromBranches.zipWithIndex.foreach { case (fb, i) =>
        var done = false
        toBranches.zipWithIndex.foreach { case (tb, o) =>
          if (!done) {
            (fb, tb) match {
              case (fp: PrimitiveType, tp: PrimitiveType)
                  if !fp.nullable && !tp.nullable =>
                if (fp.typeName == tp.typeName ||
                    promotes(fp.typeName, tp.typeName)) {
                  i2o(i) = Some(o)
                  branchIr(i) = Some(Prim(fp.typeName, tp.typeName, false))
                  haveCommon = true; done = true
                }
              case _ if mayMatch(ctx, fb, tb) =>
                try {
                  val m = build(ctx, fb, tb)
                  i2o(i) = Some(o); branchIr(i) = Some(m)
                  haveCommon = true; done = true
                } catch { case _: CompatError => () }
              case _ => ()
            }
          }
        }
      }
      if (!haveCommon) err(ctx, 0, "No common types")
      UnionM(fromBranches, toBranches,
        from.isInstanceOf[UnionType], to.isInstanceOf[UnionType],
        i2o.toVector, branchIr.toVector)
    }
}
