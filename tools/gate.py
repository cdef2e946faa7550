#!/usr/bin/env python3
"""graft's DuckDB-oracle scale gates, one table-driven runner.

Usage: python3 tools/gate.py <p256|x97|x97-regrade|x970|x970e> [outJson]
       (default /tmp/<gate>_gate.json)
Env:   GATE_CLASSES  classpath dir (default target/scala-2.13/classes;
                     freeze a copy before recompiling while a gate runs)
       SKIP_DUMP=1   reuse the gate's existing Verify dumps
       REGRADE_KEYS, REGRADE_BASE  x97-regrade only, both required: the
                     keys to re-dump and the artifact whose rows they override

Every gate runs the same pipeline: MoneySumLint (a new raw-double money
sum fails in seconds, not hours into a dump) -> mirror build, only when
the mirror's _GRAFT_MIRROR.json completion manifest is missing (an
interrupted MakeMirror leaves none) -> graft.Verify dump -> sharded
tools/compare.py runs -> extra checks -> fold. The artifact holds one row
per selected key plus the fold base's rows; a row passes on hash_match,
estimate_band_match or stability_match. The exit status is non-zero, and
every key is named, when a row fails or a selected key has no row.
"""
import json
import os
import re
import shutil
import subprocess
import sys
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def repo_setting(path: str, pattern: str) -> str:
    """A value the repo's build or Bench states, so the gates use the same one."""
    with open(f"{ROOT}/{path}") as f:
        return re.search(pattern, f.read()).group(1)


# The sf0.1 fixtures graft.Bench reads by default (mirror source and p256
# input), their sf0.001 sibling (MoneySumLint), the Spark jars build.sbt
# compiles against.
SF01 = repo_setting("src/main/scala/graft/Bench.scala", r'"SPARK_GRAFT_SF_DIR", "([^"]+)"')
SF0001 = os.path.join(os.path.dirname(SF01), "sf0.001")
SPARK_JARS = repo_setting("build.sbt", r'unmanagedBase := file\("([^"]+)"\)')
THETA = "q_sketch_theta"

# The quadratic-oracle pair keys: brute-force pair CTEs DuckDB can't run
# at sf0.1 in reasonable time. p256 grades them by multiset equality with
# a 32-partition dump, which the sf0.1 gate pinned to DuckDB.
STAB21 = ("q_containment_pairs,q_cosine_neardup,q_cosine_resolve,"
          "q_decontaminate_fuzzy,q_fuzzy_linkage,q_fuzzy_match,"
          "q_fuzzy_match_scaled,q_graph_triangles,q_jw_threshold_join,"
          "q_minhash_recall,q_neardup_components,q_neardup_delta,"
          "q_neardup_lsh,q_neardup_lsh_salted,q_neardup_pairs,"
          "q_neardup_resolve,q_ngram_jaccard,q_record_linkage,"
          "q_similarity_join,q_sorted_neighborhood,q_substring_dedup").split(",")

# The 16 embedding keys, all with oracles linear in the corpus. Additive-
# shift mirrors cap embeddings at x97 (vector modulus 97); the signflip
# mirror lifts the cap, so x970e grades them and x970 leaves them out.
EMBEDDING_KEYS = ("q_ann_delta,q_ann_ivf,q_ann_ivf_partial,q_ann_ivf_trained,"
                  "q_ann_ivfpq,q_ann_pq,q_cosine_topk,q_embed_quantize,"
                  "q_hybrid_rrf,q_knn_batch,q_pca_check,q_pca_cov_delta,"
                  "q_pca_covariance,q_semdedup,q_sql_registered,"
                  "q_vector_norm").split(",")


def x10_keys() -> List[str]:
    """The 173-key oracled surface of the x10 gate: the quadratic pair-CTE
    oracles are already excluded there (MirrorInvariants covers them)."""
    with open(f"{ROOT}/CORRECTNESS_x10_r11.json") as f:
        return sorted(set(json.load(f)) - {"_meta"})


def oracled_keys(dump: str) -> List[str]:
    with open(f"{dump}/oracle_sql.json") as f:
        return sorted(json.load(f))


def required(var: str) -> str:
    if not os.environ.get(var):
        sys.exit(f"gate: {var} is required")
    return os.environ[var]


@dataclass(frozen=True)
class Mirror:
    out: str
    factor: int
    xmx: str
    env: Dict[str, str] = field(default_factory=dict)
    # Link documents.parquet from this mirror if it exists, else
    # materialize a documents-only mirror of the same factor.
    documents_from: Optional[str] = None


@dataclass(frozen=True)
class Twin:
    """A second dump of `keys` whose output must equal the gate's dump."""
    dump: str
    env: Dict[str, str]
    keys: List[str]


@dataclass(frozen=True)
class Gate:
    what: str
    keys: Callable[[str], List[str]]           # dump dir -> oracle-graded keys
    dump: str
    dump_env: Dict[str, str]
    xmx: str
    compare_env: Dict[str, str]
    shards: int = 4
    mirror: Optional[Mirror] = None
    dump_only: bool = True                     # SPARK_GRAFT_ONLY = selected keys
    # Keys compared one at a time after the shards, each with its own env.
    solo: Dict[str, Dict[str, str]] = field(default_factory=dict)
    theta_threads: Optional[int] = None        # q_sketch_theta in its 3*RSE band
    twin: Optional[Twin] = None
    base: Optional[Callable[[], str]] = None   # artifact the rows fold over

    @property
    def src(self) -> str:
        """The data dir the dump and the compares read."""
        return self.mirror.out if self.mirror else SF01


X97 = Mirror("target/mirror_x97", 97, "32g")
X970 = Mirror("target/mirror_x970", 970, "48g", {
    "MIRROR_SINGLE_DIMS": "1",
    "MIRROR_TABLES": "lineitem,orders,customer,supplier,part,nation,region,events,documents"})
# Under the replicated-dims profile the q5/cbo oracle joins fan out ~1e11
# row products, and DuckDB's join-order pick materializes them until temp
# disk runs out; the textual left-deep order plus a real budget holds.
FANOUT = {"COMPARE_THREADS": "24", "COMPARE_MEM": "80GB",
          "COMPARE_DISABLED_OPT": "join_order"}

GATES = {
    "p256": Gate(
        what="partition-count regrade: the full sf0.1 oracle gate at "
             "spark.sql.shuffle.partitions=256 (>> cpus, the local proxy for "
             "cluster partition counts); the 21 quadratic-oracle keys are graded "
             "by multiset equality with a 32-partition dump; tools/gate.py p256",
        keys=lambda dump: sorted(set(oracled_keys(dump)) - set(STAB21)),
        dump="target/verify_p256", dump_only=False, xmx="48g",
        dump_env={"SPARK_GRAFT_CPUS": "32", "SPARK_GRAFT_SHUFFLE_PARTITIONS": "256"},
        compare_env={"COMPARE_THREADS": "6", "COMPARE_MEM": "12GB"},
        twin=Twin("target/verify_p32s", {"SPARK_GRAFT_CPUS": "32"}, STAB21)),
    "x97": Gate(
        what="oracle hash gate on the x97 mirror of sf0.1 (~sf9.7); tools/gate.py x97",
        mirror=X97, keys=lambda _: x10_keys(),
        dump="target/verify_x97", xmx="96g", dump_env={"SPARK_GRAFT_CPUS": "32"},
        compare_env={"COMPARE_THREADS": "7"},
        solo={"q5_5way_join": FANOUT, "q_cbo_join_reorder": FANOUT}, theta_threads=8),
    "x97-regrade": Gate(
        what="x97-mirror regrade of code-changed keys (REGRADE_KEYS); "
             "tools/gate.py x97-regrade",
        mirror=X97, keys=lambda _: required("REGRADE_KEYS").split(","),
        dump="target/verify_x97_regrade", xmx="64g",
        dump_env={"SPARK_GRAFT_CPUS": "32", "SPARK_GRAFT_NO_COALESCE": "1"},
        shards=1, compare_env={"COMPARE_THREADS": "16", "COMPARE_MEM": "40GB"},
        theta_threads=8, base=lambda: required("REGRADE_BASE")),
    "x970": Gate(
        what="fifth-decade oracle gate: x970 single-dims mirror of sf0.1 (~sf97); "
             "every x10-surface key except the 16 embedding keys (x970e grades "
             "those); tools/gate.py x970",
        mirror=X970,
        keys=lambda _: sorted(set(x10_keys()) - set(EMBEDDING_KEYS)),
        dump="target/verify_x970", xmx="80g",
        dump_env={"SPARK_GRAFT_CPUS": "32", "SPARK_GRAFT_NO_COALESCE": "1"},
        compare_env={"COMPARE_THREADS": "6", "COMPARE_MEM": "18GB"}, theta_threads=16),
    "x970e": Gate(
        what="fifth-decade oracle gate, embedding family: x970 SIGNFLIP embeddings "
             "mirror of sf0.1 (~1.94M vectors, copy-disjoint labels, per-copy +-1 "
             "signs), documents from the x970 mirror for q_hybrid_rrf; "
             "tools/gate.py x970e",
        mirror=Mirror("target/mirror_x970e", 970, "16g", {
            "MIRROR_VECTOR_MODE": "signflip", "MIRROR_TABLES": "embeddings"},
            documents_from=X970.out),
        keys=lambda _: EMBEDDING_KEYS,
        dump="target/verify_x970e", xmx="80g",
        dump_env={"SPARK_GRAFT_CPUS": "32", "SPARK_GRAFT_NO_COALESCE": "1"},
        compare_env={"COMPARE_THREADS": "6", "COMPARE_MEM": "18GB"}),
}


def selected(g: Gate, keys: List[str]) -> List[str]:
    return list(keys) + (g.twin.keys if g.twin else [])


def shard_split(keys: List[str], n: int) -> List[List[str]]:
    return [s for s in (keys[i::n] for i in range(n)) if s]


def compare_jobs(g: Gate, keys: List[str]):
    """(label, keys, env) for each compare.py run: the shards, run in
    parallel, and the solo keys, run one at a time after them."""
    rest = [k for k in keys if k not in g.solo and not (g.theta_threads and k == THETA)]
    shards = [(f"cmp{i}", s, g.compare_env) for i, s in enumerate(shard_split(rest, g.shards))]
    return shards, [(k, [k], env) for k, env in g.solo.items() if k in keys]


def passes(row: dict) -> bool:
    return bool(row.get("hash_match") or row.get("estimate_band_match")
                or row.get("stability_match"))


def fold(parts, keys: List[str], what: str) -> dict:
    """Merge (source, rows) parts in order into the artifact. A later part
    overrides an earlier one (a fix-rerun superseding a stale row) and the
    override is printed, so a stale row listed last stays visible. Every
    selected key without a row gets a failing one."""
    rows = {}
    for src, part in parts:
        for k, v in part.items():
            if k.startswith("_"):
                continue
            if k in rows:
                print(f"override {k}: pass={passes(rows[k])} -> pass={passes(v)} (from {src})")
            rows[k] = v
    for k in keys:
        rows.setdefault(k, {"hash_match": False, "err": "no row: no compare or check graded it"})
    def n(flag):
        return sum(1 for v in rows.values() if v.get(flag))
    rows["_meta"] = {
        "what": what, "keys": len(rows),
        "hash_pass": n("hash_match"), "band_pass": n("estimate_band_match"),
        "stability_pass": n("stability_match"),
        "fail": sum(1 for v in rows.values() if not passes(v))}
    return rows


def failures(art: dict) -> List[str]:
    return sorted(k for k, v in art.items() if k != "_meta" and not passes(v))


def heap(xmx: str, meminfo: str = "/proc/meminfo") -> str:
    """`xmx` (like "48g" or "512m"), capped at half the box's MemTotal: a
    heap the box cannot back grows past physical memory and the kernel's
    out-of-memory killer ends the JVM mid-dump."""
    units = {"m": 1, "g": 1024}
    want_mb = int(xmx[:-1]) * units[xmx[-1].lower()]
    with open(meminfo) as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    cap_mb = total_kb // 2048
    return xmx if want_mb <= cap_mb else f"{cap_mb}m"


def java(cp: str, xmx: str, main: str, *args: str, env=None, **kw):
    used = heap(xmx)
    print(f"java {main}: -Xmx{used}" + (f" (declared {xmx}, capped at half of MemTotal)"
                                        if used != xmx else ""), flush=True)
    cmd = ["java", "@tools/jdk17-add-opens.args", f"-Xmx{used}", "-cp", cp, main, *args]
    return subprocess.run(cmd, env={**os.environ, **(env or {})}, **kw)


def money_sum_lint(cp: str):
    r = java(cp, "6g", "graft.tools.MoneySumLint", SF0001,
             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in r.stdout.splitlines() if "money-sum-lint" in l]
    print("\n".join(lines))
    if r.returncode or not lines:
        sys.exit(f"gate: MoneySumLint failed (exit {r.returncode})")


def build_mirror(m: Mirror, cp: str):
    if os.path.exists(f"{m.out}/_GRAFT_MIRROR.json"):
        return
    def make(out, env):
        java(cp, m.xmx, "graft.tools.MakeMirror", check=True, env={
            "MIRROR_SRC": SF01, "MIRROR_FACTOR": str(m.factor), "MIRROR_OUT": out, **env})
    make(m.out, m.env)
    if m.documents_from:
        dst = f"{m.out}/documents.parquet"
        if os.path.isdir(f"{m.documents_from}/documents.parquet"):
            # The letter-rotation documents mirror is transform-identical
            # to what MIRROR_TABLES=...,documents would write here.
            if os.path.islink(dst):
                os.unlink(dst)
            os.symlink(os.path.abspath(f"{m.documents_from}/documents.parquet"), dst)
        else:
            make(f"{m.out}/_docs", {"MIRROR_TABLES": "documents"})
            os.rename(f"{m.out}/_docs/documents.parquet", dst)
            shutil.rmtree(f"{m.out}/_docs")


def dump(cp: str, g: Gate, out: str, env: Dict[str, str], only, log: str):
    if only is not None:
        env = {**env, "SPARK_GRAFT_ONLY": ",".join(only)}
    print(f"dump -> {out} (stderr: {log})")
    with open(log, "w") as err:
        java(cp, g.xmx, "graft.Verify", g.src, out, env=env, stderr=err, check=True)


def run_compares(name: str, g: Gate, keys: List[str]):
    """Run the compare jobs; returns their (report path, rows) parts in
    job order."""
    def start(label, ks, env):
        out = f"/tmp/{name}_{label}.json"
        if os.path.exists(out):
            os.remove(out)
        with open(f"/tmp/{name}_{label}.log", "w") as log:
            p = subprocess.Popen(
                [sys.executable, "-u", "tools/compare.py", g.src, g.dump, ",".join(ks), out],
                env={**os.environ, **env}, stdout=log, stderr=subprocess.STDOUT)
        return out, p
    shards, solos = compare_jobs(g, keys)
    runs = [start(*j) for j in shards]
    for _, p in runs:
        p.wait()
    for j in solos:
        runs.append(start(*j))
        runs[-1][1].wait()
    parts = []
    for out, p in runs:
        if os.path.exists(out):
            with open(out) as f:
                parts.append((out, json.load(f)))
        else:
            print(f"gate: {out} missing (compare exit {p.returncode}; see its .log)")
    return parts


def theta_band(g: Gate) -> dict:
    """Past 2^14 retained entries the theta sketch leaves its exact-mode
    regime (Sketches.qSketchTheta scaladoc), so the mirror gates check
    |est - exact| <= 3*RSE(lgK=14) instead of hash equality."""
    con = duckdb.connect()
    con.execute(f"SET threads={g.theta_threads}")
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{g.src}/events.parquet/*.parquet'")
    exact = dict(con.execute("""
      SELECT 'both', CAST((SELECT count(*) FROM
          (SELECT user_id FROM events WHERE event_type='click'
           INTERSECT SELECT user_id FROM events WHERE event_type='purchase') t) AS BIGINT)
      UNION ALL SELECT 'click', count(DISTINCT user_id) FROM events WHERE event_type='click'
      UNION ALL SELECT 'either', CAST((SELECT count(*) FROM
          (SELECT user_id FROM events WHERE event_type='click'
           UNION SELECT user_id FROM events WHERE event_type='purchase') t) AS BIGINT)
      UNION ALL SELECT 'purchase', count(DISTINCT user_id) FROM events WHERE event_type='purchase'
    """).fetchall())
    est = dict(con.execute(
        f"SELECT key, est_users FROM '{g.dump}/{THETA}/*.parquet'").fetchall())
    detail = {k: {"exact": exact[k], "estimate": est[k],
                  "rel_err": round(abs(est[k] - exact[k]) / exact[k], 5),
                  "within_3rse": abs(est[k] - exact[k]) / exact[k] <= 3 * 2 ** -7}
              for k in exact}
    ok = all(v["within_3rse"] for v in detail.values())
    return {"rows_match": True, "schema_match": True, "hash_match": False,
            "estimate_band_match": ok,
            "band": "abs(est-exact)/exact <= 3*RSE(lgK=14) = 2.34%", "detail": detail,
            "err": None if ok else "estimate outside 3*RSE band"}


def stability(g: Gate) -> dict:
    """Each twin key's dump output multiset-equal (EXCEPT ALL both ways)
    to the twin dump's."""
    con = duckdb.connect()
    con.execute("SET threads=16; SET memory_limit='24GB'")
    def src(d, k):
        p = f"{d}/{k}"
        return p + ("/*.parquet" if os.path.isdir(p) else "")
    def count(sql):
        return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    rows = {}
    for k in g.twin.keys:
        a, b = src(g.dump, k), src(g.twin.dump, k)
        try:
            ra, rb = count(f"SELECT * FROM '{a}'"), count(f"SELECT * FROM '{b}'")
            diff = (count(f"SELECT * FROM '{a}' EXCEPT ALL SELECT * FROM '{b}'")
                    + count(f"SELECT * FROM '{b}' EXCEPT ALL SELECT * FROM '{a}'"))
            rows[k] = {"rows": ra, "twin_rows": rb, "except_all_diff": diff,
                       "stability_match": ra == rb and diff == 0, "err": None}
        except duckdb.Error as e:
            rows[k] = {"stability_match": False, "err": f"{type(e).__name__}: {e}"}
    return rows


def run(name: str, out: str) -> int:
    g = GATES[name]
    os.chdir(ROOT)
    cp = f"{os.environ.get('GATE_CLASSES', 'target/scala-2.13/classes')}:{SPARK_JARS}/*"
    base = g.base() if g.base else None
    keys = g.keys(g.dump) if g.dump_only else None
    money_sum_lint(cp)
    if g.mirror:
        build_mirror(g.mirror, cp)
    if os.environ.get("SKIP_DUMP") != "1":
        dump(cp, g, g.dump, g.dump_env, keys, f"/tmp/{name}_dump.log")
        if g.twin:
            dump(cp, g, g.twin.dump, g.twin.env, g.twin.keys, f"/tmp/{name}_twin.log")
    if keys is None:
        keys = g.keys(g.dump)
    parts = []
    if base:
        with open(base) as f:
            parts.append((base, json.load(f)))
    parts += run_compares(name, g, keys)
    if g.theta_threads and THETA in keys:
        try:
            parts.append(("theta band", {THETA: theta_band(g)}))
        except duckdb.Error as e:
            print(f"gate: theta band failed: {type(e).__name__}: {e}")
    if g.twin:
        parts.append(("stability", stability(g)))
    what = g.what + (f"; every other row inherited from {base}" if base else "")
    return finish(name, fold(parts, selected(g, keys), what), out)


def finish(name: str, art: dict, out: str) -> int:
    """Write the artifact, print the summary and every failing key;
    returns the exit status."""
    with open(out, "w") as f:
        json.dump(art, f, indent=1, sort_keys=True)
    m = art["_meta"]
    print(f"{name} gate -> {out}: {m['hash_pass']} hash, {m['band_pass']} band, "
          f"{m['stability_pass']} stability pass; {m['fail']} fail of {m['keys']} keys")
    bad = failures(art)
    for k in bad:
        print(f"FAIL {k}: {art[k].get('err')}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.stdout.reconfigure(line_buffering=True)
    if len(sys.argv) not in (2, 3) or sys.argv[1] not in GATES:
        sys.exit(f"usage: python3 tools/gate.py <{'|'.join(GATES)}> [outJson]")
    sys.exit(run(sys.argv[1], sys.argv[2] if len(sys.argv) > 2 else f"/tmp/{sys.argv[1]}_gate.json"))
