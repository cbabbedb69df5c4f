"""The sf table reader's scan rescue (sources/tables.py:read_sf_table).

The tier-1 fixtures are too small to trip the rescue, so these tests
write 6,000-row single-row-group tables: large enough per row group to
be rescued when read whole, on the session's local[4].
"""

import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

N_ROWS = 6000


@pytest.fixture(scope="module")
def big_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("sf_big")
    ids = pa.array(range(N_ROWS), pa.int64())
    pq.write_table(
        pa.table({"doc_id": ids,
                  "text": [f"document {i} words" for i in range(N_ROWS)]}),
        d / "documents.parquet", row_group_size=N_ROWS)
    pq.write_table(
        pa.table({"o_orderkey": ids,
                  "o_totalprice": [float(i) for i in range(N_ROWS)]}),
        d / "orders.parquet", row_group_size=N_ROWS)
    return str(d)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


class TestScanRescue:
    def test_full_text_table_is_hash_repartitioned_once(self, spark, big_sf):
        from n8n_tools_api_spark.sources.tables import read_sf_table

        plan = _plan(read_sf_table(spark, big_sf, "documents"))
        assert plan.count("Exchange") == 1, plan
        assert re.search(r"Exchange hashpartitioning\(doc_id#\d+L?, \d+\)",
                         plan), plan

    def test_bounded_slice_stays_a_plain_read(self, spark, big_sf):
        from n8n_tools_api_spark.sources.tables import read_sf_table

        df = read_sf_table(spark, big_sf, "documents", below=300)
        assert "Exchange" not in _plan(df), _plan(df)
        assert df.count() == 300

    def test_relational_table_is_never_rescued(self, spark, big_sf):
        from n8n_tools_api_spark.sources.tables import read_sf_table

        plan = _plan(read_sf_table(spark, big_sf, "orders"))
        assert "Exchange" not in plan, plan

    def test_unknown_table_raises(self, spark, big_sf):
        from n8n_tools_api_spark.sources.tables import read_sf_table

        with pytest.raises(ValueError, match="unknown table"):
            read_sf_table(spark, big_sf, "document")
