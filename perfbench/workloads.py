"""The benchmark's workloads: input set-up, one operation, and its check.

Every workload is a closed loop with one client: a validation caller waits
for the verdict before it sends the next suite.
"""

from __future__ import annotations

import json
import os

from perfbench import inputs

# Result fields compared against the committed digest. Sample lists are left
# out: which unexpected values a sample holds is not part of the contract.
_DIGEST_FIELDS = ("element_count", "missing_count", "unexpected_count", "observed_value")


def _round(v):
    if isinstance(v, float):
        return float(f"{v:.10g}")
    if isinstance(v, dict):
        return {str(k): _round(x) for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))}
    if isinstance(v, (list, tuple)):
        return [_round(x) for x in v]
    return v


def _config_key(evr) -> str:
    cfg = evr.expectation_config
    return f"{cfg['expectation_type']} {json.dumps(cfg['kwargs'], sort_keys=True)}"


def _entry(evr) -> dict:
    entry = {"success": bool(evr.success), "raised": bool(evr.exception_info.get("raised_exception"))}
    entry.update({f: _round(evr.result[f]) for f in _DIGEST_FIELDS if f in evr.result})
    return entry


def digest(result) -> dict:
    """Verdicts and counts keyed by expectation identity, so the seed's
    expectation order does not matter: whole-table results under "global",
    per-partition ones under "partition"."""
    return {
        "global": {_config_key(e): _entry(e) for e in result.results},
        "partition": {
            f"{_config_key(e)} {json.dumps(e.partition, sort_keys=True, default=str)}": _entry(e)
            for e in result.partition_results
        },
    }


class Workload:
    name = ""
    rows = 0  # input rows one operation validates
    warmup_ops = 1  # untimed operations after the cold one

    def __init__(self, spark, work_dir: str, seed: int, expected: dict) -> None:
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.expected = expected

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        """Mismatches between one operation's result and the expected one."""
        raise NotImplementedError


def _diff(got: dict, want: dict) -> list[str]:
    errs = [f"missing {k}" for k in want if k not in got]
    errs += [f"unexpected {k}" for k in got if k not in want]
    errs += [f"{k}: {got[k]} != {want[k]}" for k in want if k in got and got[k] != want[k]]
    return errs


class SuiteLineitem(Workload):
    """The 18-expectation lineitem suite through ``engine.validate``."""

    name = "suite_lineitem"
    rows = 60_000

    def setup(self) -> None:
        path = os.path.join(self.work_dir, "lineitem.parquet")
        inputs.write_lineitem(path, self.rows)
        self.df = self.spark.read.parquet(path)
        from great_expectations_spark.engine import SparkValidationEngine

        self.engine = SparkValidationEngine(self.spark)

    def suite(self, i: int):
        return inputs.seeded_suite("lineitem", inputs.LINEITEM_SUITE, self.seed)

    def compile_args(self, i: int):
        """(df, suite, planner kwargs) of operation ``i``, for a fresh compile."""
        return self.df, self.suite(i), {"result_format": "BASIC", "partition_by": ["l_returnflag"]}

    def op(self, i: int):
        return self.engine.validate(
            self.df, self.suite(i), result_format="BASIC", partition_by=["l_returnflag"]
        )

    def check(self, result) -> list[str]:
        got, want = digest(result), self.expected[self.name]
        return _diff(got["global"], want["global"]) + _diff(got["partition"], want["partition"])


class ImagesArrow(Workload):
    """The 7-expectation image suite through ``validate_images``: the Arrow
    decode kernel runs in the ``pyspark.daemon`` workers."""

    name = "images_arrow"
    rows = 20_000
    # the first four operations after the cold one still ran ~30% slower
    # than the rest of a 60-operation run
    warmup_ops = 5

    def setup(self) -> None:
        from great_expectations_spark.testing.images import distributed_images_df

        path = os.path.join(self.work_dir, "images")
        distributed_images_df(self.spark, self.rows, partitions=4, seed=self.seed).write.parquet(path)
        self.df = self.spark.read.parquet(path)
        self._first = None

    def suite(self, i: int):
        return inputs.seeded_suite("images", inputs.IMAGE_SUITE, self.seed)

    def compile_args(self, i: int):
        from great_expectations_spark.operators.images import enrich_images

        return enrich_images(self.df), self.suite(i), {"partition_by": ["fmt"], "persist": True}

    def op(self, i: int):
        from great_expectations_spark.operators.images import validate_images

        return validate_images(self.df, self.suite(i), partition_by=["fmt"], persist=True)

    def check(self, result) -> list[str]:
        """Whole-table verdicts and counts against the digest (they do not
        depend on the seed). Which images fall in which format does depend
        on it, so per-format partitions are checked by their keys, which
        must be exactly the recorded ones, and by their counts, which must
        add up to the whole table's and repeat from one operation to the
        next."""
        got, want = digest(result), self.expected[self.name]
        errs = _diff(got["global"], want["global"])
        keys = set(got["partition"])
        errs += [f"missing partition {k}" for k in sorted(set(want["partition_keys"]) - keys)]
        errs += [f"unexpected partition {k}" for k in sorted(keys - set(want["partition_keys"]))]
        # every digest field adds up over the partitions: the image suite's
        # only observed_value is the row count
        sums: dict = {}
        for evr in result.partition_results:
            acc = sums.setdefault(_config_key(evr), {})
            for f in _DIGEST_FIELDS:
                if isinstance(evr.result.get(f), int):
                    acc[f] = acc.get(f, 0) + evr.result[f]
        for key, whole in want["global"].items():
            acc = sums.get(key, {})
            errs += [
                f"{key}: partitions add up to {f}={acc.get(f)}, whole table has {whole[f]}"
                for f in _DIGEST_FIELDS
                if f in whole and acc.get(f) != whole[f]
            ]
        if self._first is None:
            self._first = got["partition"]
        elif got["partition"] != self._first:
            errs.append("per-partition results differ from the first operation")
        return errs

WORKLOADS = {w.name: w for w in (SuiteLineitem, ImagesArrow)}
