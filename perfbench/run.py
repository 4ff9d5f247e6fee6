#!/usr/bin/env python3
"""Repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Run from the repository root. The script

1. builds the engine and the benchmark main from source (an sbt project in
   this directory that compiles ``src/main/scala`` together with
   ``perfbench/src``), skipping the build when the sources are unchanged;
2. generates the corpus from ``--seed`` (documents and 64-dim embeddings with
   the schema of the engine's ``documents``/``embeddings`` tables);
3. runs ``graft.PerfBench`` in one JVM, which sets up the serving artifacts
   cold, warms up, measures for ``--seconds`` and checks the outputs;
4. on ``batch_prep``, compares every query's output with its DuckDB oracle
   under ``tools/check_oracle.py``'s rules;
5. prints one JSON line: ``correct``, ``attempted``, ``failed``, ``metrics``.

sbt writes the build under ``perfbench/target``; everything a run writes
lives under ``.bench_build/`` in the checkout, except the engine's
persisted-index cache, which the engine keys under ``/tmp/graft-index-cache``
by data path: each run uses a data path of its own and removes that entry at
exit.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
WORKLOADS = ("serve_read", "batch_prep")
DEADLINE_S = 170  # the whole invocation, build excluded

# The corpus has the shape of the engine's testdata (documents of 10-100
# words over its 30-word vocabulary, 5% near-duplicates ending in "dup";
# unit-norm 64-dim embeddings in labelled clusters) at a fifth of sf0.1's
# documents and a quarter of its vectors: the engine's set-up and
# maintenance costs are per file and per job more than per row, and a run
# has about a minute.
N_DOCS, N_VECS, DIM, LABELS = 1000, 500, 64, 4
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en"] * 8 + ["zh", "zh", "es", "es", "fr", "fr", "de", "de"]

JDK_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    for extra in ("build.sbt", os.path.join("project", "build.properties")):
        roots.append(os.path.join(HERE, extra))
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """The Spark jars directory the engine's own build.sbt compiles against."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(ROOT, "build.sbt")).read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase (the Spark jars)")
    return m.group(1)


def build():
    """Compile with sbt when the sources changed since the last build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("engine sources (src/main/scala) not found")
    stamp = os.path.join(BUILD, "perfbench.stamp")
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SPARK_JARS=spark_jars())
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        raise SystemExit(f"build failed ({r.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest)


def generate(seed, out):
    """The corpus for one seed: identical files for identical seeds."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    vocab = np.array(VOCAB)
    texts = []
    for i in range(N_DOCS):
        if i >= 100 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]))
    docs = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(x)] for x in rng.integers(0, len(LANGS), N_DOCS)]),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    centers = rng.normal(size=(LABELS, DIM))
    labels = rng.integers(0, LABELS, N_VECS)
    vecs = centers[labels] + 0.6 * rng.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))


def index_cache_dir(run_dir):
    """The engine's persisted-index cache entry for this run's data path
    (IndexCatalog.cacheBase: the path string with [^A-Za-z0-9.] -> _)."""
    return "/tmp/graft-index-cache/v2/" + re.sub(r"[^A-Za-z0-9.]", "_",
                                                  os.path.join(run_dir, "sf"))


def check_batch(data_dir, outputs, oracle_path):
    """Each batch query's parquet output against its DuckDB oracle, by
    tools/check_oracle.py's rules: column names, normalized column types,
    row count, and cell reprs with columns sorted by name."""
    import duckdb
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    oracle = json.load(open(oracle_path))
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    ok = True
    for name, out in sorted(outputs.items()):
        files = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
        spark_q = f"SELECT * FROM '{os.path.join(out, files[0])}'" if files else None
        try:
            if spark_q is None:
                raise ValueError("no spark output")
            cols = sorted(con.sql(spark_q).columns)
            duck_cols = sorted(con.sql(oracle[name]).columns)
            if cols != duck_cols:
                raise ValueError(f"columns {cols} vs {duck_cols}")
            st, dt = co.col_types(con, spark_q), co.col_types(con, oracle[name])
            if any(st[c] != dt[c] for c in cols):
                raise ValueError(f"types {st} vs {dt}")
            sel = ", ".join(f'"{c}"' for c in cols)
            a = con.sql(f"SELECT {sel} FROM ({spark_q}) s").fetchall()
            b = con.sql(f"SELECT {sel} FROM ({oracle[name]}) o").fetchall()
            if len(a) != len(b):
                raise ValueError(f"rows {len(a)} vs {len(b)}")
            for i, (x, y) in enumerate(zip(a, b)):
                if [co.norm_cell(v) for v in x] != [co.norm_cell(v) for v in y]:
                    raise ValueError(f"row {i}: {x} vs {y}")
        except Exception as e:  # any mismatch or oracle error fails the run's verdict
            log(f"oracle FAIL {name}: {str(e)[:300]}")
            ok = False
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build()
    t_start = time.monotonic()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    data_dir = os.path.join(run_dir, "data")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    proc = None
    try:
        generate(a.seed, data_dir)
        log(f"inputs generated in {time.monotonic() - t_start:.1f} s")
        cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-Xmx2g", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                "-Dspark.ui.enabled=false",
                "-cp", f"{CLASSES}:{spark_jars()}/*", "graft.PerfBench",
                a.workload, str(a.seed), str(a.seconds), str(a.trace), data_dir, run_dir])
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                                stdin=subprocess.DEVNULL, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1, DEADLINE_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("benchmark JVM timed out")
        if proc.returncode != 0:
            raise SystemExit(f"benchmark JVM exited with {proc.returncode}")
        res = json.loads(out.strip().splitlines()[-1])
        log("detail " + json.dumps(res.get("detail", {})))
        correct = bool(res["correct"])
        if res.get("batch_outputs"):
            t_check = time.monotonic()
            correct = check_batch(data_dir, res["batch_outputs"],
                                  os.path.join(run_dir, "batch-out", "oracle_sql.json")) and correct
            log(f"oracle compare took {time.monotonic() - t_check:.1f} s")
        print(json.dumps({"correct": correct, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": res["metrics"]}))
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(index_cache_dir(run_dir), ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
