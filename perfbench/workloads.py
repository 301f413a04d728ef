"""The benchmark's workloads: which jobs a pass runs and how each is checked.

A workload prepares its seeded inputs, names the catalog tables its set-up
loads, and runs one job at a time through the engine's public entry points:

- ``mr_jobs`` calls ``mr.submit`` with Dean & Ghemawat's canonical jobs
  (word count, sort, the same sort through one reducer so the sort spills,
  and grep) over a seeded text corpus split into 8 files;
- ``registry_mix`` calls registry builders from ``plans.queries()`` and
  forces each result with a noop sink: TPC-H-shaped SQL (the ``plans`` and
  ``catalog`` layers), LLM dedup operators (``operators``) and availableNow
  stream replays (``streaming``).

Every job is checked: mr outputs after every run against digests computed
in plain Python, registry results in the warm-up pass against the DuckDB
oracle on the same parquet.
"""

from __future__ import annotations

import glob
import os
import random
import sys

import inputs

# Corpus lines and table scale for each size. ``bench`` is what the
# benchmark times; ``smoke`` is the self-check's quick size.
SIZES = {
    "bench": {"lines": 12_000, "sf": 0.01},
    "smoke": {"lines": 6_000, "sf": 0.001},
}
CORPUS_FILES = 8
# Per-reduce-partition in-memory sort budget handed to the mr layer through
# its own SPARK_GRAFT_MR_SORT_MEM knob: above one sort partition of the R=4
# sort and below the single partition of the R=1 sort, so ``sort_spill``
# runs the spill-and-merge path and ``sort`` does not.
SORT_MEM_BYTES = {"bench": 512 << 10, "smoke": 200 << 10}

TPCH = (
    "q6_forecast_revenue",
    "q12_priority_by_status",
)
LLM = ("dedup_exact_fingerprint",)
STREAM = ("stream_tumbling_hourly",)


def layer_of(job: str) -> str:
    if job in LLM:
        return "operators"
    if job in STREAM:
        return "streaming"
    if job in TPCH:
        return "plans"
    return "mr"


class MrJobs:
    name = "mr_jobs"
    tables: tuple[str, ...] = ()
    sf_dir = ""  # no catalog tables
    jobs = ("wordcount", "sort", "sort_spill", "grep")
    # Untimed passes before the timed ones; the first checks every output.
    # The mr jobs' times are flat from the second pass on.
    warmup_passes = 1

    def __init__(self, root: str, work: str, seed: int, size: str):
        self.work = work
        self.corpus = os.path.join(work, "corpus")
        self.expected = inputs.write_corpus(seed, SIZES[size]["lines"], CORPUS_FILES, self.corpus)
        exe = os.path.join(root, "map_reduce_group_spark", "mr", "exec")
        py = sys.executable
        # (mapper, reducer, M, R): word count with M != file count, so the
        # engine inserts its input repartition; sort with M = file count.
        self.specs = {
            "wordcount": (f"{py} {exe}/wc_map.py", f"{py} {exe}/wc_reduce.py", 4, 4),
            "sort": ("cat", "cat", CORPUS_FILES, 4),
            "sort_spill": ("cat", "cat", CORPUS_FILES, 1),
            "grep": (f"grep -F '{inputs.GREP_PHRASE}'", "cat", CORPUS_FILES, 1),
        }

    def env(self, size: str) -> dict[str, str]:
        return {"SPARK_GRAFT_MR_SORT_MEM": str(SORT_MEM_BYTES[size])}

    def bind(self) -> None:
        pass

    def run(self, spark, job: str, tracer, check: bool):
        """Submit one job; return the check of its output, run untimed."""
        from map_reduce_group_spark import mr

        mapper, reducer, m, r = self.specs[job]
        out = os.path.join(self.work, "out", job)
        with tracer.span("mr.submit", group=True):
            mr.submit(spark, mr.Job(self.corpus, out, mapper, reducer, m, r))
        return lambda: self._verify(job, out, r)

    def _verify(self, job: str, out: str, r: int) -> bool:
        """Order-insensitive digest of the part files against the expected
        output; sort outputs must also be sorted within each part file."""
        parts = sorted(glob.glob(os.path.join(out, "part-*")))
        lines: list[str] = []
        for path in parts:
            with open(path) as fh:
                part = fh.read().splitlines()
            if job.startswith("sort") and part != sorted(part, key=lambda s: s + "\n"):
                return False
            lines.extend(part)
        want = self.expected["sort" if job.startswith("sort") else job]
        return len(parts) == r and inputs.line_digest(lines) == tuple(want)


class RegistryMix:
    name = "registry_mix"
    tables = ("lineitem", "orders", "events", "documents")
    jobs = TPCH + LLM + STREAM
    # The registry jobs' times settle by the third pass.
    warmup_passes = 2

    def __init__(self, root: str, work: str, seed: int, size: str):
        self.sf_dir = os.path.join(work, "tables")
        inputs.write_tables(seed, SIZES[size]["sf"], self.sf_dir)
        self.builders: dict = {}
        self.expected: dict[str, list] = {}

    def env(self, size: str) -> dict[str, str]:
        return {}

    def bind(self) -> None:
        """Resolve the builders from the registry and compute the DuckDB
        oracle results on the generated parquet, canonicalized by the
        repository's own test helper (after the engine is imported, so the
        first set-up pays for that import)."""
        from map_reduce_group_spark.plans import queries
        from map_reduce_group_spark.plans.registry import REGISTRY
        from tests.helpers import canonicalize, run_oracle

        builders = queries()
        for job in self.jobs:
            self.builders[job] = builders[job]
            self.expected[job] = canonicalize(run_oracle(REGISTRY[job].oracle, self.sf_dir))

    def run(self, spark, job: str, tracer, check: bool):
        """Build and run one query; return the check of its result, run
        untimed. Timed passes force the result with a noop sink; the
        warm-up pass collects it for the oracle comparison."""
        with tracer.span("plans.build", group=True):
            df = self.builders[job](spark, self.sf_dir)
        with tracer.span("plans.exec", group=True):
            if check:
                got = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
        if not check:
            return lambda: True
        from tests.helpers import canonicalize

        return lambda: canonicalize(got) == self.expected[job]


WORKLOADS = {"mr_jobs": MrJobs, "registry_mix": RegistryMix}


def pass_order(jobs: tuple[str, ...], rng: random.Random) -> list[str]:
    """The seed permutes the job order within each pass."""
    order = list(jobs)
    rng.shuffle(order)
    return order
