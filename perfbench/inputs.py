"""Benchmark inputs: a TPC-H-shaped lineitem table and the seeded suites.

The lineitem table is the same for every seed, so each result can be
checked against the digest committed in ``expected.json``. The seed drives
the order of the expectations in every suite and, in ``images_arrow``, the
generated image table.
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from great_expectations_spark.core.config import ExpectationSuite

# 1995-01-02 .. 2001-11-04, seven ship years, as in TPC-H lineitem at sf0.01
_SHIP_FIRST = np.datetime64("1995-01-02", "D")
_SHIP_DAYS = int((np.datetime64("2001-11-04", "D") - _SHIP_FIRST).astype(int)) + 1
_OPEN_AFTER = np.datetime64("2000-06-17", "D")  # TPC-H CURRENTDATE, shifted


def write_lineitem(path: str, rows: int) -> None:
    """Write ``rows`` TPC-H-like lineitem rows as one parquet row group."""
    rng = np.random.default_rng(20260)
    lines_per_order = rng.integers(1, 8, size=rows // 2)
    order_of_line = np.repeat(np.arange(lines_per_order.size), lines_per_order)[:rows]
    starts = np.r_[0, np.flatnonzero(np.diff(order_of_line)) + 1]
    linenumber = np.arange(rows) - np.repeat(starts, np.diff(np.r_[starts, rows])) + 1
    parts = max(rows // 30, 10)
    partkey = rng.integers(1, parts + 1, size=rows)
    quantity = rng.integers(1, 51, size=rows).astype(np.float64)
    retail = (90000 + (partkey // 10) % 20001 + 100 * (partkey % 1000)) / 100.0
    shipdate = _SHIP_FIRST + rng.integers(0, _SHIP_DAYS, size=rows).astype("timedelta64[D]")
    shipped = shipdate <= _OPEN_AFTER
    returnflag = np.where(shipped, np.where(rng.random(rows) < 0.5, "R", "A"), "N")
    table = pa.table(
        {
            "l_orderkey": pa.array(order_of_line * 4 + 1, pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, max(rows // 600, 10) + 1, size=rows), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": pa.array(quantity),
            "l_extendedprice": pa.array(np.round(quantity * retail, 2)),
            "l_discount": pa.array(rng.integers(0, 11, size=rows) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=rows) / 100.0),
            "l_returnflag": pa.array(returnflag),
            "l_linestatus": pa.array(np.where(shipped, "F", "O")),
            "l_shipdate": pa.array(shipdate.astype("datetime64[us]")),
        }
    )
    pq.write_table(table, path, row_group_size=rows)


# (expectation_type, kwargs) — the headline lineitem suite, 18 expectations
LINEITEM_SUITE = [
    ("expect_column_values_to_not_be_null", {"column": "l_orderkey"}),
    ("expect_column_values_to_be_between", {"column": "l_quantity", "min_value": 1, "max_value": 50}),
    ("expect_column_values_to_be_between", {"column": "l_discount", "min_value": 0, "max_value": 0.2}),
    ("expect_column_values_to_be_in_set", {"column": "l_returnflag", "value_set": ["A", "N", "R"]}),
    ("expect_column_values_to_be_in_set", {"column": "l_linestatus", "value_set": ["O", "F"]}),
    ("expect_column_values_to_match_regex", {"column": "l_returnflag", "regex": "^[ANR]$"}),
    ("expect_column_pair_values_a_to_be_greater_than_b", {"column_A": "l_extendedprice", "column_B": "l_discount"}),
    ("expect_multicolumn_sum_to_equal", {"column_list": ["l_quantity", "l_linenumber"], "sum_total": 30, "mostly": 0.001}),
    ("expect_column_min_to_be_between", {"column": "l_quantity", "min_value": 0, "max_value": 5}),
    ("expect_column_max_to_be_between", {"column": "l_quantity", "min_value": 45, "max_value": 55}),
    ("expect_column_mean_to_be_between", {"column": "l_extendedprice", "min_value": 0, "max_value": 1e9}),
    ("expect_column_stdev_to_be_between", {"column": "l_extendedprice", "min_value": 0, "max_value": 1e9}),
    ("expect_column_sum_to_be_between", {"column": "l_quantity", "min_value": 0, "max_value": 1e15}),
    ("expect_column_unique_value_count_to_be_between", {"column": "l_partkey", "min_value": 1, "max_value": 10**9}),
    (
        "expect_column_kl_divergence_to_be_less_than",
        {
            "column": "l_quantity",
            "partition_object": {"bins": [1.0, 11.0, 21.0, 31.0, 41.0, 51.0], "weights": [0.2] * 5},
            "threshold": 0.1,
        },
    ),
    (
        "expect_column_psi_to_be_less_than",
        {
            "column": "l_extendedprice",
            "partition_object": {"bins": [0.0, 2e4, 4e4, 6e4, 1e7], "weights": [0.25] * 4},
            "threshold": 1.0,
        },
    ),
    ("expect_column_value_z_scores_to_be_less_than", {"column": "l_extendedprice", "threshold": 4.0, "mostly": 0.99}),
    ("expect_table_row_count_to_be_between", {"min_value": 1, "max_value": 10**12}),
]

IMAGE_SUITE = [
    ("expect_image_bytes_to_be_decodable", {"column": "bytes", "mostly": 0.98}),
    ("expect_image_dims_to_match_metadata", {"mostly": 0.95}),
    ("expect_image_fmt_to_match_metadata", {"mostly": 0.95}),
    ("expect_image_phash_to_match", {"max_hamming_distance": 0, "mostly": 0.9}),
    ("expect_column_values_to_not_be_null", {"column": "caption", "mostly": 0.95}),
    ("expect_column_values_to_be_in_set", {"column": "fmt", "value_set": ["png", "jpeg", "webp"]}),
    ("expect_table_row_count_to_be_between", {"min_value": 1, "max_value": 10**12}),
]


def seeded_suite(name: str, spec: list, seed: int) -> ExpectationSuite:
    """The suite with its expectations in a seed-chosen order."""
    order = list(spec)
    random.Random(seed).shuffle(order)
    suite = ExpectationSuite(name=name)
    for etype, kwargs in order:
        suite.add(etype, **kwargs)
    return suite
