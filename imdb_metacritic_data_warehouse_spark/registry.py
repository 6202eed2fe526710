"""The metadata plane — replaces ``meta.etl_tab_script`` / ``meta.etl_col``.

The reference is an interpreter over two metadata tables (``ddl.py:54-65``,
rows inserted at ``ddl.py:67-444``): per table a SQL script and a column
registry with pk flags, plus a *name-based* branch choosing SCD2 vs
insert-only merge (``'hub' not in name and schema != 'data_mart'``,
``ddl.py:526``).  Here the same plane is a typed Python registry:

- ``TableSpec.columns``   → declared schema (drives select-alignment,
  the Spark analogue of the reference's add/retype/drop reconciliation,
  ``ddl.py:492-520``).
- ``TableSpec.pk``        → merge key (``ddl.py:522-523``).
- ``TableSpec.scd2``      → explicit merge mode (replacing the fragile
  name-match; SURVEY.md §7 Phase 3).
- ``TableSpec.builder``   → a DataFrame-builder function name resolved in
  ``plans``; the Spark-first analogue of the script text.  Scripts are
  expressed as DataFrame plans once, at build time — not SQL translated
  at run time — so Catalyst sees the whole plan.

Load order is the reference's fixed dependency order
(``etl_layer_transfer.py:35-41,57-61``).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class TableSpec:
    schema: str  # 'stg' | 'data_mart'
    table: str
    pk: str
    columns: list[tuple[str, str]]  # (name, spark type) — excl. valid_from/valid_to
    scd2: bool
    builder: str  # function name in plans.core / plans.marts

    @property
    def attrs(self) -> list[str]:
        """Non-key attributes (change-detection set, ``ddl.py:524-525``)."""
        return [c for c, _ in self.columns if c != self.pk]


_spec = TableSpec


# Column registry mirrors ddl.py:378-444 (types mapped PG→Spark).
STG_SPECS: list[TableSpec] = [
    _spec("stg", "genre_hub", "genre_id",
          [("genre_id", "string"), ("genre_nm", "string")], False, "build_genre_hub"),
    _spec("stg", "employee_hub", "emp_id",
          [("emp_id", "string"), ("emp_nm", "string")], False, "build_employee_hub"),
    _spec("stg", "movie_hub", "movie_id",
          [("movie_id", "string"), ("movie_nm", "string"), ("movie_duration", "int")],
          False, "build_movie_hub"),
    _spec("stg", "movie_info_sat", "title_item_id",
          [("title_item_id", "string"), ("movie_id", "string"), ("original_name", "string"),
           ("year", "string"), ("certificate", "string"), ("rating", "string"),
           ("budget", "string"), ("gross_worldwide", "string"), ("scr_nm", "string"),
           ("url", "string")],
          True, "build_movie_info_sat"),
    _spec("stg", "movie_genre_link", "mv_gen_link_id",
          [("mv_gen_link_id", "string"), ("movie_id", "string"), ("genre_id", "string")],
          True, "build_movie_genre_link"),
    _spec("stg", "movie_emp_link", "movie_emp_link_id",
          [("movie_emp_link_id", "string"), ("movie_id", "string"), ("emp_id", "string")],
          True, "build_movie_emp_link"),
    _spec("stg", "emp_movie_l_sat", "movie_emp_role_id",
          [("movie_emp_role_id", "string"), ("movie_emp_link_id", "string"),
           ("description", "string"), ("role", "string")],
          True, "build_emp_movie_l_sat"),
]

MART_SPECS: list[TableSpec] = [
    _spec("data_mart", "employee_data", "movie_emp_role_id",
          [("movie_emp_role_id", "string"), ("name", "string"), ("role", "string"),
           ("role_description", "string")], False, "build_employee_data"),
    _spec("data_mart", "movie_data", "title_item_id",
          [("title_item_id", "string"), ("movie_name", "string"), ("movie_duration", "int"),
           ("original_name", "string"), ("year", "string"), ("rating", "string"),
           ("budget", "string"), ("worldwide_gross", "string"), ("rating_source", "string"),
           ("url", "string")], False, "build_movie_data"),
    _spec("data_mart", "movie_employee_link", "movie_emp_link_id",
          [("movie_emp_link_id", "string"), ("movie_nm", "string"),
           ("movie_duration", "int"), ("emp_nm", "string")], False,
          "build_movie_employee_link"),
    _spec("data_mart", "genre_metrics", "genre_id",
          [("genre_id", "string"), ("genre", "string"), ("max_budget_movie", "string"),
           ("max_gross_movie", "string"), ("best_rated_movie", "string"),
           ("average_rating", "double"), ("genre_movie_quant", "long")], False,
          "build_genre_metrics"),
    _spec("data_mart", "rating_slide", "movie_id",
          [("movie_id", "string"), ("movie_name", "string"), ("duration", "int"),
           ("current_rating", "double"), ("current_place", "long")], False,
          "build_rating_slide"),
]

ALL_SPECS: dict[tuple[str, str], TableSpec] = {
    (s.schema, s.table): s for s in STG_SPECS + MART_SPECS
}

# Fixed dependency order (etl_layer_transfer.py:35-41,57-61).
STG_ORDER = [s.table for s in STG_SPECS]
MART_ORDER = [s.table for s in MART_SPECS]
