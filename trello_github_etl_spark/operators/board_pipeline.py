"""The card/item customization pipeline (customizeTrelloCard,
lib/transform.js:257–305) and the quickview report
(utils/board-quickview.js) as DataFrame transforms.

Design: the board-local dimensions (lists, members, custom fields) are
config-sized, so each one collapses into a map-valued scalar subquery
built with ``map_from_entries`` — the Spark analog of the reference's
in-memory lookup tables: it runs once per query, lands in the row plan
as a value, with no join, no per-row linear scan and no shuffle, and a
map whose column is pruned leaves the plan entirely. Array
order is semantic everywhere (idMembers order drives owner
resolution; customFieldItems order drives the report), so lookups use
``transform`` over the arrays rather than explode+join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trello_github_etl_spark.functions import text
from trello_github_etl_spark.functions.checklist import with_parsed_check_item
from trello_github_etl_spark.operators.owners import (
    resolve_owners,
    with_owner_sentinels,
)

LABEL_SENTINEL = "!Label"
ASSIGNEE_SENTINEL = "!Assigned"


def _map_col(dim: DataFrame, key: str, value: str) -> Column:
    """Collapse a small dimension into one map-valued scalar subquery.

    Spark rejects subqueries inside higher-order function lambdas, so a
    lambda reads the map through a column attached with ``withColumn``."""
    return dim.agg(
        F.map_from_entries(F.collect_list(F.struct(F.col(key), F.col(value))))
    ).scalar()


def _status_map_col(status_map: dict[str, str]):
    pairs = [x for kv in status_map.items() for x in kv]
    return F.create_map(*[F.lit(x) for x in pairs])


def customize_cards(
    entities: dict[str, DataFrame],
    status_map: dict[str, str],
    secondary_admin_field_id: str,
) -> DataFrame:
    """Derive the `_*` card columns; active cards only.

    Mirrors the reference's skip order: closed first (P1), then
    unmapped list (P2). Derived columns: card_type, card_status,
    custom_field_names, label_names (sorted, ``!Label`` default),
    owner, fallback_owner (sentineled).
    """
    enriched = (
        entities["cards"]
        .filter(~F.coalesce(F.col("closed"), F.lit(False)))
        .withColumns(
            {
                "_cfs": _map_col(entities["custom_fields"], "id", "name"),
                "_members": _map_col(entities["members"], "id", "username"),
            }
        )
        .withColumn(
            "card_type",
            F.try_element_at(_map_col(entities["lists"], "id", "name"), F.col("idList")),
        )
        .withColumn(
            "card_status", F.try_element_at(_status_map_col(status_map), F.col("card_type"))
        )
        .filter(F.col("card_status").isNotNull())
        .withColumn(
            "custom_field_names",
            F.transform(
                F.coalesce(F.col("customFieldItems"), F.array()),
                lambda it: F.try_element_at(F.col("_cfs"), it["idCustomField"]),
            ),
        )
        .withColumn(
            "label_names",
            F.sort_array(
                F.transform(
                    F.coalesce(F.col("labels"), F.array()), lambda l: l["name"]
                )
            ),
        )
        .withColumn(
            "label_names",
            F.when(F.size("label_names") == 0, F.array(F.lit(LABEL_SENTINEL))).otherwise(
                F.col("label_names")
            ),
        )
        .withColumn(
            "member_usernames",
            F.transform(
                F.coalesce(F.col("idMembers"), F.array()),
                lambda mid: F.try_element_at(F.col("_members"), mid),
            ),
        )
        .withColumn(
            "raw_fallback",
            text.strip_at(
                F.try_element_at(
                    F.filter(
                        F.coalesce(F.col("customFieldItems"), F.array()),
                        lambda it: it["idCustomField"] == F.lit(secondary_admin_field_id),
                    ),
                    F.lit(1),
                )["value"]["text"]
            ),
        )
    )

    resolved = resolve_owners(enriched, entities["members"])
    return with_owner_sentinels(resolved).drop("_cfs", "_members")


def customize_check_items(
    entities: dict[str, DataFrame],
    active_card_ids: DataFrame | None = None,
) -> DataFrame:
    """Derive the `_*` item columns; incomplete items only (P3).

    Adds: amount, title, desc, task_type (F10), assignee
    (``!Assigned`` sentinel when unassigned — transform.js:297–300).
    """
    items = entities["check_items"]
    if active_card_ids is not None:
        items = items.join(
            active_card_ids.select(F.col("id").alias("_acid")),
            items.card_id == F.col("_acid"),
            "left_semi",
        )
    parsed = (
        with_parsed_check_item(items.filter(F.col("state") != "complete"), "name", "_p")
        .withColumn("task_type", text.task_type(F.col("checklist_name")))
        .withColumn(
            "assignee",
            F.when(F.col("idMember").isNull(), F.lit(ASSIGNEE_SENTINEL)).otherwise(
                F.try_element_at(
                    _map_col(entities["members"], "id", "username"), F.col("idMember")
                )
            ),
        )
    )
    return parsed.select(
        "id",
        "checklist_id",
        "card_id",
        "checklist_name",
        "checklist_pos",
        "pos",
        "state",
        F.col("_p")["clean_name"].alias("clean_name"),
        F.col("_p")["amount"].alias("amount"),
        F.col("_p")["title"].alias("title"),
        F.col("_p")["desc"].alias("desc"),
        "task_type",
        "assignee",
        "idMember",
    )


def quickview_table(
    cards: DataFrame,
    items: DataFrame,
) -> DataFrame:
    """The quickview markdown table rows (board-quickview.js:137–186):
    one row per active card plus one per active item, board order."""
    card_rows = cards.select(
        F.col("id").alias("entity_id"),
        F.lit("card").alias("kind"),
        F.col("card_type").alias("column"),
        F.col("owner").alias("owner"),
        F.col("fallback_owner").alias("fallback"),
        F.array_join("label_names", ", ").alias("labels"),
        F.col("name").alias("title"),
    )
    item_rows = items.select(
        F.col("id").alias("entity_id"),
        F.lit("task").alias("kind"),
        F.col("task_type").alias("column"),
        F.col("assignee").alias("owner"),
        F.lit("").alias("fallback"),
        F.lit("").alias("labels"),
        F.col("title").alias("title"),
    )
    return card_rows.unionByName(item_rows)


def quickview_distincts(cards: DataFrame, items: DataFrame) -> DataFrame:
    """The 'Active X' distinct sections (board-quickview.js:194–204)."""
    sections = [
        cards.select(F.lit("Columns").alias("category"), F.col("card_type").alias("value")),
        cards.select(F.lit("Owners").alias("category"), F.col("owner").alias("value")),
        cards.select(
            F.lit("Labels").alias("category"), F.explode("label_names").alias("value")
        ),
        cards.select(
            F.lit("Custom Fields").alias("category"),
            F.explode("custom_field_names").alias("value"),
        ),
        items.select(
            F.lit("Checklists").alias("category"), F.col("task_type").alias("value")
        ),
        items.select(F.lit("Members").alias("category"), F.col("assignee").alias("value")),
    ]
    out = sections[0]
    for s in sections[1:]:
        out = out.unionByName(s)
    return out.distinct().orderBy("category", "value")
