package graft.types

/** Foreign-key declaration: `column` in this table references
  * `refTable.refColumn`. Mirrors the reference's `t_relation` columns
  * (reference: preql/core/evaluate.py:63-87) which drive auto-joins.
  */
final case class FK(column: String, refTable: String, refColumn: String)

/** Table-level metadata the engine tracks outside of Spark's schema:
  * logical name, primary key, and foreign keys (Spark enforces none of
  * these, so they live here and drive auto-join resolution and id
  * generation). Mirrors reference `options` dict on table types
  * (reference: preql/core/pql_types.py:72-73, evaluate.py:262-267).
  */
final case class TableMeta(
    name: String,
    pk: Seq[String] = Nil,
    fks: Seq[FK] = Nil
)

object TableMeta {
  val empty: TableMeta = TableMeta("")
}
