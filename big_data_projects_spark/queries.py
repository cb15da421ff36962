"""Assembled query registry.

Importing this module populates ``REGISTRY`` with every implemented
query (reference parity + LLM-pipeline extensions + streaming), in
registration order.
"""

from __future__ import annotations

from big_data_projects_spark.registry import REGISTRY, Query  # noqa: F401

# Side-effect imports: each module registers its queries.
import big_data_projects_spark.queries_core  # noqa: F401,E402
import big_data_projects_spark.queries_olap  # noqa: F401,E402
import big_data_projects_spark.queries_tpch  # noqa: F401,E402
import big_data_projects_spark.queries_tpch_full  # noqa: F401,E402
import big_data_projects_spark.queries_expr  # noqa: F401,E402
import big_data_projects_spark.queries_scale  # noqa: F401,E402
import big_data_projects_spark.queries_llm  # noqa: F401,E402
import big_data_projects_spark.queries_corpus  # noqa: F401,E402
import big_data_projects_spark.queries_streaming  # noqa: F401,E402
import big_data_projects_spark.queries_series  # noqa: F401,E402
import big_data_projects_spark.queries_sql_api  # noqa: F401,E402
import big_data_projects_spark.queries_curation  # noqa: F401,E402
