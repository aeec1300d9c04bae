"""Seeded inputs and the closed-loop workloads.

Every workload stages its inputs during set-up (cached in Spark memory),
then runs timed iterations. Each iteration calls the library's public
operators one after another (one driver thread, one call in flight) and
checks every result before the next call starts. A check that fails marks
that call as a failed operation.

Every iteration goes through the same chain of calls, so every end-to-end
metric has a value on every workload:

    build -> delete -> save -> load -> count -> probe -> approx_count

The workloads differ in the filter layout (one sharded global filter, or
one filter per (lang, repo) group) and in input sizes; README.md says why.

Stream rows carry a `kind` column:
    0  member, kept
    1  member, deleted after the build
    2  absent key (a disjoint id range, never inserted)
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from cuckoofilter4j_spark.operators import (
    approx_count,
    approx_count_sharded,
    build_filter_salted,
    build_filter_sharded,
    count_members_sharded,
    delete_keys,
    delete_keys_sharded,
    might_contain,
    might_contain_sharded,
    sha256_key,
)
from cuckoofilter4j_spark.sources import load_sketches, save_sketches

FPP = 0.01
SIZING = "paper"  # the default sizing overshoots fpp at design load
FILTER_SEED = 42
ABSENT_BASE = 1 << 40  # absent ids start far above any member id
GROUP_COLS = ["lang", "repo"]
KEPT, DELETED, ABSENT = 0, 1, 2


def source_table(
    spark: SparkSession, seed: int, start: int, rows: int, parts: int, orgs: int = 7, repos: int = 23
) -> DataFrame:
    """(id, repo, path, commit, lang, content) rows for ids [start, start+rows).

    Columns derive from xxhash64(seed, salt, id), so one seed always gives the
    same table. The shape follows the library's source-file fixture: one hot
    repo holds ~30% of rows, the rest spread over `orgs` x `repos` repos, and
    `lang` is java/python/go/rust/ts at 40/25/15/10/10, which gives ~805
    (lang, repo) groups at the defaults. `content` holds the id, so every row's key is
    distinct and no absent key equals a member key."""
    i = F.col("id")

    def h(salt: int):
        return F.xxhash64(F.lit(seed), F.lit(salt), i)

    hot = F.pmod(h(1), F.lit(10)) < 3
    repo = F.when(hot, F.lit("org0/repo0")).otherwise(
        F.concat(F.lit("org"), F.pmod(h(2), F.lit(orgs)), F.lit("/repo"), F.pmod(h(3), F.lit(repos)))
    )
    w = F.pmod(h(4), F.lit(20))
    lang = (
        F.when(w < 8, "java").when(w < 13, "python").when(w < 16, "go")
        .when(w < 18, "rust").otherwise("ts")
    )
    body_len = (F.pmod(h(5), F.lit(257)) + F.lit(64)).cast("int")
    body = F.repeat(F.sha2(F.concat(F.lit("body"), F.lit(seed), F.lit("/"), i.cast("string")), 256), 6)
    return spark.range(start, start + rows, 1, parts).select(
        i,
        repo.alias("repo"),
        F.concat(F.lit("src/dir"), F.pmod(h(6), F.lit(17)), F.lit("/file"), i, F.lit(".src")).alias("path"),
        F.sha1(F.concat(F.lit("commit"), F.lit(seed), (i / 100).cast("long"))).alias("commit"),
        lang.alias("lang"),
        F.concat(F.lit("// file "), i, F.lit("\n"), F.substring(body, 1, body_len)).alias("content"),
    )


class Calls:
    """Wall-clock record of every public call, for the result and the trace.
    `start` is epoch seconds (to match Spark's event log); `wall_s` is the
    call's duration on the monotonic clock."""

    def __init__(self):
        self.records = []

    def run(self, role: str, fn: str, keys: int, thunk):
        t0, p0 = time.time(), time.perf_counter()
        out = thunk()
        wall = time.perf_counter() - p0
        self.records.append(
            {"role": role, "fn": fn, "keys": int(keys), "start": t0, "end": t0 + wall, "wall_s": wall}
        )
        return out


class Failures:
    """Counts attempted and failed operations; a call fails on any check."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages = []

    def check(self, op: str, problems: list) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.messages.append(f"{op}: " + "; ".join(problems))


def _sketch_stats(sk: DataFrame) -> dict:
    r = sk.agg(
        F.count("*").alias("rows"),
        F.sum("count").alias("count"),
        F.sum("failed_inserts").alias("failed"),
        F.sum(F.length("sketch")).alias("bytes"),
    ).first()
    return {k: (r[k] or 0) for k in ("rows", "count", "failed", "bytes")}


def _sketch_problems(st: dict, expect_count: int, expect_rows: int) -> list:
    p = []
    if st["count"] != expect_count:
        p.append(f"sketches hold {st['count']} keys, expected {expect_count}")
    if st["failed"]:
        p.append(f"failed_inserts = {st['failed']}")
    if st["rows"] != expect_rows:
        p.append(f"{st['rows']} sketch rows, expected {expect_rows}")
    return p


def _by_kind(rows, value_col: str) -> dict:
    return {int(r["kind"]): int(r[value_col] or 0) for r in rows}


class Workload:
    """Staging, the chain of calls and every check. Subclasses set the sizes
    and the operators."""

    name = ""
    members = 0  # member keys inserted per build
    absent = 0  # absent keys in the probe stream
    delete_every = 10  # 1 in delete_every members is deleted
    grouped = False
    orgs, repos = 7, 23

    def __init__(self, spark: SparkSession, seed: int, work_dir: str, calls: Calls, failures: Failures):
        self.spark, self.seed = spark, int(seed)
        self.store = os.path.join(work_dir, "sketch_store")
        self.calls, self.failures = calls, failures
        self.parts = spark.sparkContext.defaultParallelism
        self.staged = None
        self.counts = {}
        self.results = {"build_bytes": [], "fpp": []}

    # -- set-up ---------------------------------------------------------------
    def stage(self) -> None:
        """Generate the member and absent rows, key them by sha256(content),
        and cache (kind, [lang, repo,] key) in Spark memory."""
        if self.staged is not None:
            self.staged.unpersist(blocking=True)
        spark, seed = self.spark, self.seed
        kind = F.when(
            F.pmod(F.xxhash64(F.lit(seed), F.lit(99), F.col("id")), F.lit(self.delete_every)) == 0,
            F.lit(DELETED),
        ).otherwise(F.lit(KEPT))
        cols = GROUP_COLS if self.grouped else []
        shape = dict(orgs=self.orgs, repos=self.repos)
        members = source_table(spark, seed, 0, self.members, self.parts, **shape).select(
            kind.alias("kind"), *cols, sha256_key("content").alias("key")
        )
        absent = source_table(spark, seed, ABSENT_BASE, self.absent, self.parts, **shape).select(
            F.lit(ABSENT).alias("kind"), *cols, sha256_key("content").alias("key")
        )
        self.staged = members.unionByName(absent).persist()
        self.counts = {
            int(r["kind"]): int(r["count"]) for r in self.staged.groupBy("kind").count().collect()
        }
        for k in (KEPT, DELETED, ABSENT):
            self.counts.setdefault(k, 0)

    def setup(self) -> None:
        self.stage()

    def release(self) -> None:
        if self.staged is not None:
            self.staged.unpersist(blocking=True)

    def warm_variant(self, calls: Calls) -> "Workload":
        """The same workload on a few thousand keys and a few groups. One
        set-up and iteration of it before timing starts the Python workers
        and compiles every plan shape the timed calls use."""
        w = type(self)(self.spark, self.seed, os.path.dirname(self.store), calls, self.failures)
        w.members, w.absent = 4096, 4096
        w.orgs, w.repos = 1, 3
        return w

    @property
    def member_df(self) -> DataFrame:
        return self.staged.filter(F.col("kind") != ABSENT).drop("kind")

    @property
    def delete_df(self) -> DataFrame:
        return self.staged.filter(F.col("kind") == DELETED).drop("kind")

    @property
    def n_members(self) -> int:
        return self.counts[KEPT] + self.counts[DELETED]

    @property
    def n_stream(self) -> int:
        return sum(self.counts.values())

    @property
    def count_role(self) -> str:
        """The call whose wall gives count_keys_per_s."""
        return "count" if self.count_fn else "probe"

    # -- operators (set by subclasses) --------------------------------------------
    n_sketches = 0

    def _build(self) -> DataFrame:
        raise NotImplementedError

    def _delete(self, sk: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _count(self, sk: DataFrame) -> dict:
        """kind -> members reported present."""
        raise NotImplementedError

    def _probe(self, sk: DataFrame):
        """Per-row membership returned to the driver, as a (kind, found)
        pair of numpy arrays; kind is None when the call returns no kind."""
        raise NotImplementedError

    def _approx(self, sk: DataFrame):
        raise NotImplementedError

    def largest_filter(self) -> tuple:
        """(keys, max_keys) of the workload's largest single filter."""
        raise NotImplementedError

    # -- the chain -------------------------------------------------------------
    def build_delete_save(self) -> None:
        sk = self.calls.run("build", self.build_fn, self.n_members, self._build)
        st = _sketch_stats(sk)
        self.failures.check(self.build_fn, _sketch_problems(st, self.n_members, self.n_sketches))
        self.results["build_bytes"].append(st["bytes"] / self.n_members)

        d = self.calls.run("delete", self.delete_fn, self.counts[DELETED], lambda: self._delete(sk))
        # delete-then-contains, first half: the total count drops by exactly
        # the number deleted (the probes check that every survivor is found)
        self.failures.check(
            self.delete_fn, _sketch_problems(_sketch_stats(d), self.counts[KEPT], self.n_sketches)
        )
        self.calls.run(
            "save", "save_sketches", self.counts[KEPT],
            lambda: save_sketches(d, self.store, group_cols=GROUP_COLS if self.grouped else None),
        )

    def _membership_problems(self, found: dict) -> list:
        """`found` maps kind -> keys reported present. Zero false negatives
        among kept members; absent keys found are false positives."""
        p = []
        kept = self.counts[KEPT]
        if found.get(KEPT, 0) != kept:
            p.append(f"{kept - found.get(KEPT, 0)} false negatives among {kept} kept members")
        fpp = found.get(ABSENT, 0) / max(self.counts[ABSENT], 1)
        if fpp > FPP:
            p.append(f"observed fpp {fpp:.5f} > configured {FPP}")
        return p

    def probe_chain(self) -> None:
        loaded = self.calls.run(
            "load", "load_sketches", self.n_members,
            lambda: load_sketches(self.spark, self.store, expect_seed=FILTER_SEED).localCheckpoint(eager=True),
        )
        self.failures.check(
            "load_sketches", _sketch_problems(_sketch_stats(loaded), self.counts[KEPT], self.n_sketches)
        )
        n = self.n_stream

        found = None
        if self.count_fn:
            found = self.calls.run("count", self.count_fn, n, lambda: self._count(loaded))
            self.failures.check(self.count_fn, self._membership_problems(found))

        kinds, hits = self.calls.run("probe", self.probe_fn, n, lambda: self._probe(loaded))
        p = []
        if len(hits) != n:
            p.append(f"{len(hits)} result rows for {n} probed keys")
        if kinds is None:
            # no kind column came back: the total must match the count call
            if int(hits.sum()) != sum(found.values()):
                p.append(f"{int(hits.sum())} keys found, the count call found {sum(found.values())}")
        else:
            per_kind = {int(k): int(hits[kinds == k].sum()) for k in np.unique(kinds)}
            p += self._membership_problems(per_kind)
            if found is None:
                found = per_kind
            elif per_kind != found:
                p.append(f"per-row results {per_kind} disagree with the count call {found}")
        self.failures.check(self.probe_fn, p)
        self.results["fpp"].append(found.get(ABSENT, 0) / max(self.counts[ABSENT], 1))

        rows = self.calls.run("approx_count", self.approx_fn, n, lambda: self._approx(loaded))
        # approx_count never undercounts a member, and is positive exactly
        # where might_contain is true
        positive = _by_kind(rows, "found")
        p = self._membership_problems(positive)
        min_kept = _by_kind(rows, "min_count").get(KEPT, 0)
        if min_kept < 1:
            p.append(f"a kept member has approx_count {min_kept}")
        if positive != found:
            p.append(f"positive counts {positive} disagree with membership {found}")
        self.failures.check(self.approx_fn, p)

    def iteration(self) -> None:
        self.build_delete_save()
        self.probe_chain()

    def kernel_inputs(self) -> tuple:
        """(member keys, absent keys, max_keys) for the kernel section: as
        many members as the largest filter holds, sized as the workload
        sizes it, plus as many absent keys."""
        n, max_keys = self.largest_filter()

        def keys(df):
            return df.select("key").limit(n).toArrow().column("key").combine_chunks()

        absent = self.staged.filter(F.col("kind") == ABSENT)
        return keys(self.member_df), keys(absent), max_keys


def _approx_rows(df: DataFrame):
    return df.groupBy("kind").agg(
        F.min("approx_count").alias("min_count"),
        F.sum((F.col("approx_count") > 0).cast("long")).alias("found"),
    ).collect()


class GlobalSharded(Workload):
    """One global filter over every key, as a sharded filter at per-shard
    load ~0.9. Each iteration builds it, deletes 10% of its keys, saves and
    loads it, then probes it each way over the members plus half as many
    absent keys. Stands for both the write-heavy build/delete path and the
    read-heavy load/probe path of the global filter."""

    name = "global_sharded"
    shards = 8
    members = 117_964  # 0.9 x 8 shards x 4096 buckets x 4 slots
    absent = members // 2
    build_fn, delete_fn = "build_filter_sharded", "delete_keys_sharded"
    count_fn, probe_fn, approx_fn = "count_members_sharded", "might_contain_sharded", "approx_count_sharded"

    @property
    def n_sketches(self) -> int:
        return self.shards

    def largest_filter(self) -> tuple:
        # build_filter_sharded's per-shard sizing with its default 5% headroom
        return self.n_members // self.shards, int(self.n_members / self.shards * 1.05) + 1

    def _build(self) -> DataFrame:
        return build_filter_sharded(
            self.member_df, max_keys=self.n_members, num_shards=self.shards,
            fpp=FPP, seed=FILTER_SEED, sizing=SIZING,
        ).localCheckpoint(eager=True)

    def _delete(self, sk: DataFrame) -> DataFrame:
        return delete_keys_sharded(sk, self.delete_df, num_shards=self.shards).localCheckpoint(eager=True)

    def _stream(self) -> DataFrame:
        return self.staged.select("kind", "key")

    def _count(self, sk: DataFrame) -> dict:
        rows = count_members_sharded(self._stream(), sk, num_shards=self.shards, group_cols=["kind"]).collect()
        return _by_kind(rows, "n_members")

    def _probe(self, sk: DataFrame):
        t = might_contain_sharded(self._stream(), sk, num_shards=self.shards, output_cols=[]).toArrow()
        return None, t.column("might_contain").to_numpy()

    def _approx(self, sk: DataFrame):
        return _approx_rows(approx_count_sharded(self._stream(), sk, num_shards=self.shards, output_cols=["kind"]))


class GroupedLangRepo(Workload):
    """Skewed many-group build: one filter per (lang, repo), ~205 groups with
    a hot repo holding ~30% of rows. Each group's filter is sized from the
    group count taken during set-up, with the same 5% headroom that
    build_filter_sharded gives each shard. Grouped filters have no
    in-worker count operator: the per-row probe result, returned to the
    driver, serves as both the probe and the count."""

    name = "grouped_lang_repo"
    orgs, repos = 2, 20  # 41 repos x 5 langs
    members = 16_000
    absent = 100_000
    headroom = 1.05
    grouped = True
    build_fn, delete_fn = "build_filter_salted", "delete_keys"
    count_fn, probe_fn, approx_fn = None, "might_contain", "approx_count"

    def setup(self) -> None:
        self.stage()
        self.group_sizes = {
            (r["lang"], r["repo"]): int(r["count"])
            for r in self.member_df.groupBy(*GROUP_COLS).count().collect()
        }
        self.max_keys = {g: int(n * self.headroom) + 1 for g, n in self.group_sizes.items()}

    @property
    def n_sketches(self) -> int:
        return len(self.group_sizes)

    def largest_filter(self) -> tuple:
        g = max(self.group_sizes, key=self.group_sizes.get)
        return self.group_sizes[g], max(self.max_keys[g], 256)  # build_filter_salted's min_max_keys

    def _build(self) -> DataFrame:
        return build_filter_salted(
            self.member_df, group_cols=GROUP_COLS, max_keys=self.max_keys,
            fpp=FPP, seed=FILTER_SEED, sizing=SIZING,
        ).localCheckpoint(eager=True)

    def _delete(self, sk: DataFrame) -> DataFrame:
        return delete_keys(sk, self.delete_df, group_cols=GROUP_COLS).localCheckpoint(eager=True)

    def _probe(self, sk: DataFrame):
        t = might_contain(self.staged, sk, group_cols=GROUP_COLS).select("kind", "might_contain").toArrow()
        return t.column("kind").to_numpy(), t.column("might_contain").to_numpy()

    def _approx(self, sk: DataFrame):
        return _approx_rows(approx_count(self.staged, sk, group_cols=GROUP_COLS))


WORKLOADS = {w.name: w for w in (GlobalSharded, GroupedLangRepo)}
