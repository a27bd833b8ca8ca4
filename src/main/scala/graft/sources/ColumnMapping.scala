package graft.sources

import graft.Json.quote
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Column mapping — Delta-style logical↔physical name indirection
  * that makes `ALTER TABLE RENAME COLUMN` and `DROP COLUMN`
  * METADATA-ONLY commits on the transactional table (reference scope:
  * the lakehouse surface of
  * /root/reference/aws_infrastructure/airflow-setup.py's pipeline
  * storage, which pandas mutates freely; here renames must not
  * rewrite 100 TB of immutable parquet).
  *
  * Invariants:
  *
  *   - Data files ALWAYS store the column's ORIGINAL physical name;
  *     a rename changes only the logical name the table exposes.
  *     Old files keep reading (their physical names never change),
  *     and a rename is one manifest commit regardless of table size.
  *   - The MANIFEST speaks logical names everywhere (stats / value
  *     sets / bloom column / declared partitions): the rename commit
  *     REKEYS those maps, so file pruning survives a rename — the
  *     translation to physical happens only at the parquet boundary
  *     ([[TxTable]]'s writeFiles / raw-read sites).
  *   - Mapping state is versioned in `_mapping_v{N}.json` sidecars,
  *     one per alter, honored only when manifest N committed with
  *     op=alter_mapping (a crashed alter's orphan sidecar is inert
  *     and cleaned by vacuum). Resolution at version V uses the
  *     newest valid sidecar ≤ V, so TIME TRAVEL to a pre-rename
  *     version serves the old names.
  *   - A DROPPED column's physical name stays RESERVED: re-adding
  *     the same logical name maps it to a fresh physical name
  *     (`name__v{N}`), so dropped data can never silently resurface
  *     from old files.
  *
  * Entries exist only for non-identity columns (renamed, dropped, or
  * remapped re-adds); every other column is identity-mapped. An
  * empty entry list never persists — the table simply has no mapping.
  */
object ColumnMapping {

  /** One mapped column: the table-visible `logical` name, the name
    * `physical` stored in data files, and whether the column is
    * dropped (logical name gone; physical stays reserved). */
  case class Entry(logical: String, physical: String, dropped: Boolean)

  case class Mapping(entries: Seq[Entry]) {
    val active: Seq[Entry] = entries.filterNot(_.dropped)
    val physByLogical: Map[String, String] =
      active.map(e => e.logical -> e.physical).toMap
    val logicalByPhys: Map[String, String] =
      active.map(e => e.physical -> e.logical).toMap
    val droppedPhys: Set[String] =
      entries.filter(_.dropped).map(_.physical).toSet
    /** Every physical name any entry claims — no OTHER column may
      * use these names (a new identity column named like a renamed
      * column's physical would collide inside the data files). */
    val reservedPhys: Set[String] = entries.map(_.physical).toSet

    def phys(logical: String): String =
      physByLogical.getOrElse(logical, logical)
    def logicalOf(physical: String): Option[String] =
      if (droppedPhys(physical)) None
      else Some(logicalByPhys.getOrElse(physical, physical))

    /** File frame (physical names) → table frame (logical names):
      * dropped physicals vanish, mapped physicals alias to their
      * logical names, everything else (incl. metadata columns like
      * _change_type) passes through untouched. Pure projection —
      * zero cost in the physical plan. */
    def toLogical(df: DataFrame): DataFrame = {
      val cols = df.columns.toSeq.flatMap { n =>
        if (droppedPhys(n)) None
        else logicalByPhys.get(n) match {
          case Some(l) => Some(col(n).as(l))
          case None => Some(col(n))
        }
      }
      df.select(cols: _*)
    }

    /** Table frame (logical names) → file frame (physical names).
      * Refuses a column whose name collides with a RESERVED physical
      * name it does not own — accepting it would make the written
      * file unreadable (two meanings for one physical name). */
    def toPhysical(df: DataFrame): DataFrame = {
      val cols = df.columns.toSeq.map { n =>
        physByLogical.get(n) match {
          case Some(p) => col(n).as(p)
          case None =>
            require(!reservedPhys(n),
              s"column '$n' is reserved by column mapping (it is the " +
                "physical name of a renamed or dropped column) — " +
                "ALTER TABLE ADD COLUMN first to remap it")
            col(n)
        }
      }
      df.select(cols: _*)
    }

    /** Logical schema fields → physical names, positionally (types
      * untouched) — the DSv2 writer-factory translation. */
    def physicalize(schema: org.apache.spark.sql.types.StructType)
        : org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType(
        schema.fields.map(f => f.copy(name = phys(f.name))))

    /** Physical schema fields → logical names, dropped columns
      * removed — the table-schema exposure translation. */
    def logicalize(schema: org.apache.spark.sql.types.StructType)
        : org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType(
        schema.fields.flatMap(f =>
          logicalOf(f.name).map(l => f.copy(name = l))))
  }

  private[sources] def toJson(m: Mapping): String =
    "{\"cols\":[" + m.entries.map(e =>
      "{\"l\":" + quote(e.logical) + ",\"p\":" + quote(e.physical) +
        ",\"d\":" + e.dropped + "}").mkString(",") + "]}"

  private[sources] def fromJson(body: String): Mapping = {
    val root = graft.Json.parseObject(body)
    val entries = root.get("cols") match {
      case Some(l: List[_]) => l.collect { case m: Map[_, _] =>
        val e = m.asInstanceOf[Map[String, Any]]
        Entry(e("l").asInstanceOf[String], e("p").asInstanceOf[String],
          e("d").asInstanceOf[Boolean])
      }
      case _ => Nil
    }
    Mapping(entries)
  }
}
