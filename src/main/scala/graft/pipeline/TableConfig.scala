package graft.pipeline

/** Per-table pipeline configuration.
  *
  * Mirrors the reference's table registry: `config.py:36-72` declares the 8
  * claims tables with `primary_key=["claimnumber"]`, and the silver config
  * re-declares them with `orderByCol=["updated_on"]`
  * (`linehaul_bronze_silver.py:171-182`). The reference never *uses* either
  * field (`process_table`'s `table_config` parameter is dead —
  * `linehaul_bronze_silver.py:194`); here they drive the PK-dedup operator
  * the reference models but never built (SURVEY.md §2.5).
  */
final case class TableConfig(
    name: String,
    primaryKey: Seq[String] = Seq("claimnumber"),
    orderByCol: Seq[String] = Seq("updated_on"))

object TableConfig {
  /** The 8 claims tables (config.py:36-72). `claim` holds one row per
    * claim and keeps the declared `claimnumber` key. The seven child tables
    * hold many rows per claim (activities, charges, payments, ...), each
    * identified by its own `rowid`; keyed by `claimnumber`, as the
    * reference declares, the dedup would keep one child row per claim and
    * drop the rest. */
  val registry: Map[String, TableConfig] =
    (TableConfig("claim") +: Seq(
      "claim_activity", "claim_additionalcharge", "claim_additionalinfo",
      "claim_diary", "claim_document", "claim_payment", "claim_product")
      .map(TableConfig(_, primaryKey = Seq("rowid"))))
      .map(c => c.name -> c).toMap

  /** SFTP file → table name derivation: `claim.txt` stays `claim`, others
    * insert an underscore (`linehaul_source_to_bronze.py:98-101`). */
  def tableNameForFile(file: String): String =
    if (file == "claim.txt") "claim"
    else file.replace("claim", "claim_").replace(".txt", "")
}
