package graft.compile

import graft.model.{ColumnMapping, MappingLoader}

/** Global registry of reusable column templates (M2 —
  * `lib/ndr_import/standard_mappings.rb:1-23`). The host application sets
  * the registry once; defaults mirror the reference's test fixture
  * (`test/resources/standard_mappings.yml`).
  */
object StandardMappings {

  @volatile private var registry: Map[String, ColumnMapping] = defaults

  def get(name: String): Option[ColumnMapping] = registry.get(name)

  def set(mappings: Map[String, ColumnMapping]): Unit = { registry = mappings }

  private def defaults: Map[String, ColumnMapping] = {
    def simple(col: String, cleaner: String) =
      col -> MappingLoader.columnsFromAny(List(Map(
        "column" -> col, "rawtext_name" -> col,
        "mappings" -> List(Map("field" -> col, "clean" -> cleaner))))).head
    Map(
      simple("surname", "name"),
      simple("previoussurname", "name"),
      simple("forenames", "name"),
      simple("sex", "sex"),
      simple("nhsnumber", "nhsnumber"),
      simple("postcode", "postcode"),
      "test" -> MappingLoader
        .columnsFromAny(List(Map("column" -> "standard_mapping_column_name"))).head)
  }

  def reset(): Unit = { registry = defaults }
}
