"""graft benchmark: closed-loop workloads against a local Spark session.

Usage (from the repository root):

    python3 perfbench/run.py --workload relational_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all        # every workload, report lines only

The script builds the library and the JVM runner `graftbench.Main` (`perfbench/build.sbt`)
on first use, generates the workload's inputs from the seed (untimed), runs
the runner for `--seconds` of whole request cycles, checks every output
against reference answers, and prints as its last line one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the metrics
are the end-to-end ones; with `--trace 1` the per-layer ones. The line before
it is a full report: every workload-specific metric by name with its unit and
sample count, the tracing overhead, and an environment stamp.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["relational_mix", "curation_batch", "vector_serve"]
SCALES = {"full": 1.0, "tiny": 0.01}
DEADLINE_S = 170  # the whole run, build excluded
INGEST_ID0 = 10_000_000  # ingested vectors and documents get ids from here
# Recall floors of the approximate operators, applied to a run's pooled
# sample (every checked batch or search, warm-up included): a run below its
# floor fails every request that fed the sample. A single request samples too
# few pairs or queries for a floor near the measured recall.
NEARDUP_RECALL_FLOOR = 0.8
SEARCH_RECALL_FLOOR = 0.7
BUILD_DEADLINE_S = 840

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)  # the declared metrics and their units

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build


def _source_files(root):
    for base in ["src/main", "project", "perfbench/src", "perfbench/project"]:
        for dirpath, dirnames, files in os.walk(os.path.join(root, base)):
            dirnames[:] = [d for d in dirnames if d not in ("target", "project")]
            for f in files:
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    yield os.path.join(dirpath, f)
    for f in ["build.sbt", "perfbench/build.sbt"]:
        yield os.path.join(root, f)


def source_hash(root):
    h = hashlib.sha256()
    for path in sorted(_source_files(root)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, work):
    """Compile the library and the runner; returns the runtime classpath.
    The classpath is cached against a hash of the sources."""
    key = source_hash(root)
    cp_file = os.path.join(work, f"classpath-{key}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip(), key
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    # keep the build's scratch files inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    log("building library and runner (first run in this checkout)")
    t0 = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                          cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=BUILD_DEADLINE_S)
    lines = [ln for ln in proc.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"built in {time.time() - t0:.1f}s")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip(), key


# ---------------------------------------------------------- input planning


def prepare_relational(data, seed, scale):
    sizes = gen.relational(data, seed, scale)
    rng = np.random.default_rng([seed, 10])
    n_supp, n_users = max(8, int(1000 * scale)), max(10, int(100_000 * scale) // 100)
    templates = ["pipeline", "filters_agg", "median", "broadcast_join", "shuffle_join", "topk",
                 "window_rank", "rollup", "sessionize", "tumbling", "cleaner"]

    # seeded parameters; ranges keep each template's selectivity, and so its
    # cost, within a narrow band, so the run's median compares across seeds
    def params(t):
        if t == "pipeline":
            return {"qmax": float(rng.integers(20, 31))}
        if t == "filters_agg":
            lo = int(rng.integers(0, 6))
            return {"dlo": lo / 100, "dhi": (lo + int(rng.integers(2, 5))) / 100,
                    "flags": sorted(rng.choice(["A", "N", "R"], int(rng.integers(1, 3)), replace=False).tolist()),
                    "qmax": float(rng.integers(20, 51))}
        if t == "median":
            return {"dmin": int(rng.integers(3, 6)) / 100}
        if t == "broadcast_join":
            return {"brands": [f"Brand#{b}" for b in rng.choice(np.arange(1, 26), 3, replace=False)]}
        if t == "shuffle_join":
            return {"pmin": float(rng.integers(150, 251) * 1000)}
        if t == "topk":
            return {"flag": str(rng.choice(["A", "N", "R"])), "tmax": int(rng.integers(2, 9)) / 100,
                    "k": int(rng.integers(10, 51))}
        if t == "window_rank":
            return {"smax": int(max(4, n_supp * rng.integers(2, 7) / 100)), "k": int(rng.integers(2, 6))}
        if t == "rollup":
            return {"qmin": float(rng.integers(15, 26))}
        if t == "sessionize":
            return {"umax": int(max(2, n_users * rng.integers(1, 4) / 100)), "gap": int(rng.choice([30, 60, 120]))}
        if t == "tumbling":
            return {"types": sorted(rng.choice(gen.EVENT_TYPES, int(rng.integers(2, 4)), replace=False).tolist()),
                    "minutes": int(rng.choice([15, 30, 60]))}
        if t == "cleaner":
            return {"nations": sorted(int(n) for n in rng.choice(25, int(rng.integers(3, 7)), replace=False)),
                    "scale": str(rng.choice(["standard", "minmax"]))}
        raise ValueError(t)

    queries = [{"id": c * len(templates) + i, "template": t, "params": params(t)}
               for c in range(64) for i, t in enumerate(templates)]
    return {"templates": templates, "queries": queries}, {"inputs": sizes}


def prepare_curation(data, seed, scale):
    n_base = max(20, int(5000 * scale))
    docs = gen.documents(seed, n_base, amplify=10, neardup_share=0.2, exact_share=0.05)
    n = len(docs["doc_id"])
    n_standing, size = n // 10, max(50, int(300 * scale))
    batches = [(lo, lo + size) for lo in range(n_standing, n - size + 1, size)]
    gen.write_documents(data, "standing", docs, np.arange(n_standing))
    gen.write_documents(data, "bpe_sample", docs, np.arange(min(n_standing, max(20, n // 100))))
    # a run reaches a few batches: write the seeded order's first ones; the
    # last of them is the warm-up
    order = np.random.default_rng([seed, 11]).permutation(len(batches))[:min(12, len(batches))].tolist()
    for b in order:
        gen.write_documents(data, f"batch_{b}", docs, np.arange(*batches[b]))
    ref = checks.Curation(docs, batches, n_standing)
    plan = {"order": order, "num_merges": 8}
    return plan, {"inputs": {"docs": n, "standing_docs": n_standing, "batch_docs": size,
                             "neardup_share": 0.2, "exact_share": 0.05}, "ref": ref}


def prepare_vector(data, seed, scale):
    n_base = max(20, int(2000 * scale))
    vecs, labels = gen.embeddings(seed, n_base, amplify=5)
    n, dim = vecs.shape
    gen.write_embeddings(data, "corpus", "vec_id", np.arange(n), vecs, {"label": labels})
    n_docs = max(50, int(5000 * scale))
    docs = gen.documents(seed + 7_919, n_docs, amplify=1, neardup_share=0.0, exact_share=0.0)
    gen.write_documents(data, "documents", docs)

    # search requests: 8 query vectors near corpus members, 2-3 lexical terms
    rng = np.random.default_rng([seed, 12])
    n_searches, per_search, n_ingests, batch, docs_per_ingest = 200, 8, 100, 64, 20
    src = rng.integers(0, n, n_searches * per_search)
    qv = gen.unit(vecs[src] + gen.unit(rng.standard_normal((len(src), dim))) * 0.2).astype(np.float32)
    qid = np.array([r * 1000 + j for r in range(n_searches) for j in range(per_search)])
    gen.write_embeddings(data, "queries", "query_id", qid, qv, {"req": qid // 1000})
    terms = [sorted(rng.choice(gen.TOPIC_WORDS, int(rng.integers(2, 4)), replace=False).tolist())
             for _ in range(n_searches)]

    # ingest batches: 30% near-duplicates of corpus vectors, the rest novel
    n_ing = n_ingests * batch
    dup = rng.random(n_ing) < 0.3
    base = np.where(dup[:, None], vecs[rng.integers(0, n, n_ing)], gen.unit(rng.standard_normal((n_ing, dim))))
    noise = gen.unit(rng.standard_normal((n_ing, dim))) * np.where(dup, 0.05, 0.0)[:, None]
    ing = gen.unit(base + noise).astype(np.float32)
    ing_ids = INGEST_ID0 + np.arange(n_ing)
    gen.write_embeddings(data, "ingest_vectors", "vec_id", ing_ids, ing, {"batch": np.arange(n_ing) // batch})
    idocs = gen.documents(seed + 104_729, n_ingests * docs_per_ingest // 10 + 1, amplify=10,
                          neardup_share=0.0, exact_share=0.0, id_offset=INGEST_ID0)
    rows = np.arange(n_ingests * docs_per_ingest)
    gen.write_documents(data, "ingest_docs", idocs, rows,
                        {"batch": pa.array(rows // docs_per_ingest, pa.int32())})

    plan = {"reads": 2, "searches": n_searches, "ingests": n_ingests, "k": 10, "rerank": 50,
            "dup_threshold": 0.9, "ingest_batch": batch, "terms": terms}
    tokens = lambda d, i: checks.normalize(d["text"][i]).split()  # noqa: E731
    ref = {"corpus": vecs, "queries": dict(zip(qid.tolist(), qv)), "per_search": per_search,
           "ingest": dict(zip(ing_ids.tolist(), ing)), "ingest_batch": batch,
           "docs": {int(docs["doc_id"][i]): tokens(docs, i) for i in range(n_docs)},
           "ingest_docs": [{int(idocs["doc_id"][i]): tokens(idocs, i)
                            for i in rows[b * docs_per_ingest:(b + 1) * docs_per_ingest]}
                           for b in range(n_ingests)],
           "terms": terms, "threshold": 0.9, "k": 10}
    return plan, {"inputs": {"corpus_vectors": n, "dim": dim, "documents": n_docs,
                             "ingest_batch_vectors": batch, "ingest_batch_docs": docs_per_ingest,
                             "ingest_dup_share": 0.3, "queries_per_search": per_search,
                             "read_write": "2:1"},
                  "ref": ref}


PREPARE = {"relational_mix": prepare_relational, "curation_batch": prepare_curation,
           "vector_serve": prepare_vector}


# ------------------------------------------------------------------ checks


def check_relational(data, records, corrupt=False):
    import duckdb
    con = duckdb.connect()
    for t in ["lineitem", "orders", "customer", "part", "events"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data, t)}.parquet')")
    cache = {}
    for r in records:
        if r["error"]:
            continue
        q = r["meta"]["query"]
        key = json.dumps(q, sort_keys=True)
        if key not in cache:
            cache[key] = checks.relational_expected(con, q["template"], q["params"])
            if corrupt and cache[key]:
                cache[key][0][-1] = "corrupted"
        r["problems"] = checks.rows_equal(r["output"], cache[key])
    con.close()


def check_curation(ref, records, merges, corrupt=None):
    for r in records:
        if r["error"]:
            continue
        if corrupt == "no-pairs":  # as if the LSH stage found nothing
            r["output"]["pairs"], r["output"]["components"] = [], []
        r["problems"], r["quality"] = ref.check(r["meta"]["batch"], r["output"], merges)
    checked = [r for r in records if "quality" in r]
    truth = sum(r["quality"]["neardup_truth"] for r in checked)
    hit = sum(r["quality"]["neardup_hit"] for r in checked)
    if truth and hit / truth < NEARDUP_RECALL_FLOOR:
        for r in checked:
            r["problems"].append(f"run near-dup recall {hit}/{truth} below {NEARDUP_RECALL_FLOOR}")


def weaken_ann(rows, n):
    """Self-test: move the neighbours of every query but the request's
    first (which feeds the fused ranking) to the far side of the corpus."""
    return [[q, nbr if q % 1000 == 0 else (nbr + n // 2) % n, rank] for q, nbr, rank in rows]


def check_vector(ref, records, corrupt=None):
    """Replays the store's contents request by request: ANN results against
    brute force over what the index holds at that moment, BM25 and RRF
    recomputed exactly, ingest drops against exact max-cosine."""
    ids = list(range(len(ref["corpus"])))
    vecs = [ref["corpus"]]
    docs = dict(ref["docs"])
    k, thr = ref["k"], ref["threshold"]
    for r in records:
        if r["error"]:
            continue
        out, problems = r["output"], []
        if r["kind"] == "ingest":
            b = r["meta"]["batch"]
            bids = [INGEST_ID0 + b * ref["ingest_batch"] + j for j in range(ref["ingest_batch"])]
            maxcos = (np.stack([ref["ingest"][i] for i in bids]) @ ref["corpus"].T).max(axis=1)
            kept = {row[0] for row in out["kept"]}
            should = {i for i, c in zip(bids, maxcos) if c >= thr}
            wrong = [i for i, c in zip(bids, maxcos) if i not in kept and c < thr - 0.01]
            if wrong:
                problems.append(f"ingest dropped non-duplicates {wrong[:5]}")
            if len(should - kept) < 0.8 * len(should):
                problems.append(f"ingest dropped {len(should - kept)} of {len(should)} near-duplicates")
            new = [i for i in bids if i in kept]
            if new:
                ids += new
                vecs.append(np.stack([ref["ingest"][i] for i in new]))
            docs.update(ref["ingest_docs"][b])
            if out["n_docs"] != len(docs):
                problems.append(f"bm25 index holds {out['n_docs']} docs, expected {len(docs)}")
        else:
            req = r["meta"]["req"]
            if corrupt == "weak-ann":
                out["ann"] = weaken_ann(out["ann"], len(ref["corpus"]))
            allv, idarr = np.concatenate(vecs), np.array(ids)
            by_q = {}
            for qid, nbr, _ in out["ann"]:
                by_q.setdefault(qid, []).append(nbr)
            recalls = []
            for qid in range(req * 1000, req * 1000 + ref["per_search"]):
                top = set(idarr[np.argsort(-(allv @ ref["queries"][qid]))[:k]].tolist())
                got = by_q.get(qid, [])
                if len(got) != k:
                    problems.append(f"query {qid} returned {len(got)} neighbours")
                recalls.append(len(top & set(got)) / k)
            rec = float(np.mean(recalls))
            problems += checks.bm25_problems(out["bm25"], docs, set(ref["terms"][req]), k)
            q0 = req * 1000
            fused = checks.rrf([[(nbr, rank) for qid, nbr, rank in out["ann"] if qid == q0],
                                [(d, rank) for d, _, rank in out["bm25"]]], k)
            problems += ["fused: " + p for p in checks.rows_equal(out["fused"], fused)]
            r["quality"] = {"recall": rec}
        r["problems"] = problems
    checked = [r for r in records if "quality" in r]
    rec = float(np.mean([r["quality"]["recall"] for r in checked])) if checked else 1.0
    if rec < SEARCH_RECALL_FLOOR:
        for r in checked:
            r["problems"].append(f"run search recall@{k} {rec:.3f} below {SEARCH_RECALL_FLOOR}")


# ----------------------------------------------------------------- metrics


def pct(xs, p):
    return float(np.percentile(np.array(xs), p)) if xs else 0.0


def timing(name, xs):
    """Median and p90 of a sample, with the sample count and the number of
    samples beyond p90 (p90 is meaningful only when that is >= 10)."""
    return {f"{name}_p50_s": {"value": pct(xs, 50), "unit": "s", "n": len(xs)},
            f"{name}_p90_s": {"value": pct(xs, 90), "unit": "s", "n": len(xs),
                              "beyond": int(sum(1 for x in xs if x > pct(xs, 90)))}}


def summarize(workload, res, records, inputs, failed, attempted):
    """Report metrics (by the workload's own names) and the end-to-end
    metrics BENCHMARK.json declares, from the measured records."""
    times = [r["seconds"] for r in records if not r["error"]]
    elapsed = sum(r["seconds"] for r in records)
    named = {
        "setup_s": {"value": res["session_s"] + res["state_s"], "unit": "s"},
        "error_rate": {"value": failed / attempted, "unit": "ratio", "n": attempted},
        "retained_heap_mb": {"value": res["retained_heap_mb"], "unit": "MB"},
    }
    if workload == "relational_mix":
        named.update(timing("query", times))
        named["queries_per_s"] = {"value": len(records) / elapsed, "unit": "1/s"}
    elif workload == "curation_batch":
        named["batch_p50_s"] = {"value": pct(times, 50), "unit": "s", "n": len(times)}
        docs = inputs["batch_docs"] * len(records)
        named["docs_per_s"] = {"value": docs / elapsed, "unit": "1/s"}
        truth = sum(r.get("quality", {}).get("neardup_truth", 0) for r in records)
        hit = sum(r.get("quality", {}).get("neardup_hit", 0) for r in records)
        named["neardup_recall"] = {"value": hit / truth if truth else 1.0, "unit": "ratio", "n": truth}
    else:
        s = [r["seconds"] for r in records if r["kind"] == "search" and not r["error"]]
        g = [r["seconds"] for r in records if r["kind"] == "ingest" and not r["error"]]
        named["index_build_s"] = {"value": res["facts"]["index_build_s"], "unit": "s"}
        named.update(timing("search", s))
        named["ingest_p50_s"] = {"value": pct(g, 50), "unit": "s", "n": len(g)}
        rec = [r["quality"]["recall"] for r in records if "quality" in r]
        named["search_recall"] = {"value": float(np.mean(rec)) if rec else 0.0, "unit": "ratio", "n": len(rec)}
    generic = {"setup_s": named["setup_s"]["value"], "request_p50_s": pct(times, 50),
               "requests_per_s": len(records) / elapsed, "retained_heap_mb": res["retained_heap_mb"]}
    return named, generic


def layer_values(res):
    out = dict(res["layers"])
    # cycles alternate untraced, traced
    ct = [c["seconds"] for c in res["cycle_times"]]
    plain, traced = sum(ct[0:len(ct) // 2 * 2:2]), sum(ct[1:len(ct) // 2 * 2:2])
    out["Trace.overhead_ratio"] = traced / plain - 1.0
    return out


def declared(values, metrics):
    """The declared metrics of BENCHMARK.json, with their units."""
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in metrics}


# -------------------------------------------------------------------- main


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_one(root, work, classpath, key, args, workload):
    t_start = time.time()
    run_dir = os.path.join(work, f"run-{workload}-{args.seed}-{os.getpid()}")
    data = os.path.join(run_dir, "data")
    os.makedirs(data, exist_ok=True)
    try:
        plan, info = PREPARE[workload](data, args.seed, SCALES[args.scale])
        log(f"{workload}: inputs generated in {time.time() - t_start:.1f}s")
        cpus = str(len(os.sched_getaffinity(0)))
        plan.update({"workload": workload, "data": data, "seconds": args.seconds, "trace": args.trace,
                     "cpus": cpus,
                     "out": os.path.join(run_dir, "result.json")})
        plan_path = os.path.join(run_dir, "plan.json")
        with open(plan_path, "w") as fh:
            json.dump(plan, fh)
        heap = os.environ.get("SPARK_DRIVER_MEM", "3g")
        cmd = (["java", f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
               + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
                  f"-Djava.io.tmpdir={run_dir}",
                  "-cp", classpath, "graftbench.Main", plan_path])
        budget = DEADLINE_S - (time.time() - t_start) - 15
        with open(os.path.join(run_dir, "jvm.log"), "w") as lf:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=budget)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit(f"perfbench: runner exceeded {budget:.0f}s")
        if rc != 0:
            with open(os.path.join(run_dir, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-6000:])
            raise SystemExit(f"perfbench: runner exited with {rc}")
        with open(plan["out"]) as fh:
            res = json.load(fh)

        records = res["records"]
        for r in records:
            r["problems"] = [f"error: {r['error']}"] if r["error"] else []
            if workload == "relational_mix":
                r["meta"]["query"] = plan["queries"][r["meta"]["id"] % len(plan["queries"])]
        if workload == "relational_mix":
            check_relational(data, records, corrupt=args.corrupt == "expected")
        elif workload == "curation_batch":
            merges = [tuple(m) for m in res["facts"]["merges"]]
            if args.corrupt == "expected":
                merges = merges[1:]
            check_curation(info["ref"], records, merges, args.corrupt)
        else:
            if args.corrupt == "expected":
                info["ref"]["k"] += 1
            check_vector(info["ref"], records, args.corrupt)
        # a traced run measures the per-layer counters; its timings carry the
        # tracing overhead, so only untraced cycles feed end-to-end figures
        failed = sum(1 for r in records if r["problems"])
        measured = [r for r in records if not r["traced"] and r["cycle"] >= 0]
        named, generic = summarize(workload, res, measured, info["inputs"], failed, len(records))
        for r in records:
            for p in r["problems"][:3]:
                log(f"{workload} {r['kind']} cycle {r['cycle']}: {p}")
        env = dict(res["env"], git_commit=git_commit(root), source_hash=key)
        report = {"workload": workload, "seed": args.seed, "trace": args.trace, "metrics": named,
                  "inputs": info["inputs"], "loop": "closed", "clients": 1,
                  "cycles": res["cycles"], "elapsed_s": res["elapsed_s"],
                  "session_s": res["session_s"], "state_s": res["state_s"], "warmup_s": res["warmup_s"],
                  "recalls": [r["quality"] for r in records if "quality" in r], "env": env}
        if args.trace:
            report["layers"] = declared(layer_values(res), SPEC["per_layer"])
            report["ops"] = res["ops"]
            spans_file = os.path.join(work, f"spans-{workload}-{args.seed}.json")
            with open(spans_file, "w") as fh:
                json.dump(res["spans"], fh)
            report["spans_file"] = os.path.relpath(spans_file, root)
        return report, generic, len(records), failed
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full",
                    help="full = sf0.1 input sizes; tiny = sf0.001 (self-test)")
    ap.add_argument("--corrupt", choices=["expected", "no-pairs", "weak-ann"],
                    help="self-test: corrupt an expected answer (expected), drop every near-dup "
                         "pair (no-pairs, curation_batch) or move ANN results away from the "
                         "query (weak-ann, vector_serve), so the checks must fail")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: run from the repository root (no build.sbt / src/main/scala/graft here)")
    work = os.path.join(HERE, ".work")
    os.makedirs(work, exist_ok=True)
    classpath, key = build(root, work)

    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    attempted = failed = 0
    metrics = {}
    for w in workloads:
        report, generic, n, f = run_one(root, work, classpath, key, args, w)
        attempted += n
        failed += f
        print(json.dumps(report), flush=True)
        metrics = report["layers"] if args.trace else declared(generic, SPEC["end_to_end"])
    if args.workload == "all":
        return 0 if failed == 0 else 1
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
