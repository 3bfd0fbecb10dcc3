package graft.schema

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

import scala.collection.immutable.ListMap

/** Schema utilities reproducing the reference's schema dynamics
  * (SURVEY.md §1.4):
  *
  *  - `conformToSchema` = permissive `unify_schemas` + cast
  *    (`crystpqdb/loaders/base.py:210-216`): missing fields become typed
  *    nulls — recursively, including inside arrays of structs — and present
  *    fields are cast to the target type.
  *  - `flatten` / `unflatten` = ParquetDB's internal dotted-column layout and
  *    `rebuild_nested_struct=True` read path
  *    (`crystpqdb/loaders/base.py:188-193`), exposed as operators (Q-FL1).
  *
  * All three are pure `DataFrame => DataFrame` column programs — no shuffle,
  * no driver-side data movement, so they hold at any scale.
  */
object SchemaOps {

  /** Cast/null-fill `e` (of type `src`) into shape `tgt`, recursing through
    * structs and arrays. Null structs stay null (not structs-of-nulls).
    *
    * A subtree already in target shape passes through untouched, and one
    * that differs only by allowing fewer nulls is relabelled with
    * [[AsNullable]]; only a subtree whose names, order or leaf types differ
    * is rebuilt. So conforming an already-canonical frame adds no per-row
    * work — no struct rebuild and no interpreted `transform` lambda.
    */
  private def conformExpr(e: Column, src: DataType, tgt: DataType): Column = (src, tgt) match {
    case (s, t) if s == t => e
    case (s, t) if ColumnBridge.widensNullability(s, t) => asNullable(e, Some(t))
    case (s: StructType, t: StructType) =>
      when(e.isNull, lit(null).cast(t)).otherwise(struct(conformFields(s, t, e.getField): _*))
    case (ArrayType(se, sn), ArrayType(te, tn)) =>
      transform(e, x => conformNullable(x, se, sn, te, tn))
    case (_, t) => e.cast(t)
  }

  /** [[conformExpr]] plus the target's nullability: a value the source
    * declares non-null (a `lit`, a `struct(...)`) would stay non-null
    * through the optimizer, which then writes it as a `required` parquet
    * field and reports a schema that is not the target's.
    */
  private def conformNullable(e: Column, src: DataType, srcNullable: Boolean,
                              tgt: DataType, tgtNullable: Boolean): Column = {
    val c = conformExpr(e, src, tgt)
    if (tgtNullable && !srcNullable) asNullable(c, None) else c
  }

  private def asNullable(c: Column, relabel: Option[DataType]): Column =
    ColumnBridge.column(AsNullable(ColumnBridge.expression(c), relabel))

  /** `tgt`'s fields, in its order, conformed from `src`'s (`field` reads one
    * by name) or null-filled where `src` lacks them.
    */
  private def conformFields(src: StructType, tgt: StructType, field: String => Column): Seq[Column] =
    tgt.fields.toIndexedSeq.map { tf =>
      src.fields.find(_.name == tf.name) match {
        case Some(sf) =>
          conformNullable(field(tf.name), sf.dataType, sf.nullable, tf.dataType, tf.nullable).as(tf.name)
        case None => lit(null).cast(tf.dataType).as(tf.name)
      }
    }

  /** Conform `df` to `target`: union-of-schemas semantics with the target
    * winning — every target field present (null-filled if missing), every
    * field cast to the target type, in target field order. Extra source
    * columns are dropped (the reference casts to the canonical schema).
    * Wherever the target allows nulls the result does too, so for an
    * all-nullable target such as `CrystalSchema.schema` the result's schema
    * is exactly the target; a frame already in it comes back as a plain
    * column selection.
    */
  def conformToSchema(df: DataFrame, target: StructType): DataFrame =
    df.select(conformFields(df.schema, target, name => df(s"`$name`")): _*)

  /** Flatten nested struct columns into dotted top-level columns
    * (`a: struct<b,c>` → columns `a.b`, `a.c`). Arrays are left intact —
    * flattening applies to struct nesting only, matching ParquetDB's layout.
    */
  def flatten(df: DataFrame): DataFrame = {
    def expand(e: Column, name: String, dt: DataType): Seq[(String, Column)] = dt match {
      case st: StructType =>
        st.fields.toIndexedSeq.flatMap(f => expand(e.getField(f.name), s"$name.${f.name}", f.dataType))
      case _ => Seq(name -> e)
    }
    val cols = df.schema.fields.toIndexedSeq.flatMap { f =>
      expand(df(s"`${f.name}`"), f.name, f.dataType)
    }
    df.select(cols.map { case (n, c) => c.as(n) }: _*)
  }

  /** Inverse of [[flatten]]: reassemble dotted column names into nested
    * structs. `unflatten(flatten(df))` preserves schema and data for any
    * df whose original column names contain no dots.
    */
  def unflatten(df: DataFrame): DataFrame = {
    // (path segments, column) in original order
    val leaves: Seq[(List[String], Column)] =
      df.schema.fieldNames.toIndexedSeq.map(n => n.split("\\.").toList -> df(s"`$n`"))

    def build(items: Seq[(List[String], Column)]): Seq[(String, Column)] = {
      // group by head segment, preserving first-appearance order
      val order = items.map(_._1.head).distinct
      val grouped = ListMap(order.map(h => h -> items.filter(_._1.head == h)): _*)
      grouped.toSeq.map { case (head, group) =>
        group match {
          case Seq((List(_), c)) => head -> c
          case children =>
            val nested = build(children.map { case (path, c) => path.tail -> c })
            head -> struct(nested.map { case (n, c) => c.as(n) }: _*)
        }
      }
    }
    df.select(build(leaves).map { case (n, c) => c.as(n) }: _*)
  }
}

/** `child`'s values, nullable, under `relabel` — a type that only allows
  * more nulls than the child's (same names, order and leaf types) — or
  * else under the child's own type. The rows are not touched: codegen
  * passes the child's value through. Unlike a `Cast`, a `CaseWhen` or
  * Spark's `KnownNullable`, it is never folded or simplified away, so the
  * relaxed nullability reaches the writer — over a literal too, where the
  * optimizer would otherwise restore `nullable = false`.
  */
private[schema] case class AsNullable(child: Expression, relabel: Option[DataType])
    extends UnaryExpression {
  override def dataType: DataType = relabel.getOrElse(child.dataType)
  override def nullable: Boolean = true
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = child.genCode(ctx)
  override protected def withNewChildInternal(newChild: Expression): AsNullable = copy(child = newChild)
}
