"""Serving benchmark: drives the engine's HTTP server from this separate
load-generator process and prints one JSON result line.

    python3 servebench/run.py --workload interactive --seed 1 --seconds 8 --trace 0

Each run builds the engine if its sources changed (servebench/build.py),
generates a corpus, request stream and change log from the seed
(servebench/gen.py), starts a fresh server JVM (servebench/src) over fresh
index, Spark-local and checkpoint directories under `.bench_build/runs/`,
times the set-up, warms up, then drives closed-loop clients for `--seconds`
and validates every response. With `--trace 1` a traced phase takes the
timed window's place: the first requests of the stream are each sent over
HTTP and replayed in the server through the layers' public functions, with
spans and a Spark listener. The run then prints the per-layer metrics
instead, and writes the spans to `.bench_build/traces/<workload>.json`.
See servebench/README.md.
"""

import argparse
import http.client
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

HEAP = "3g"
ROUTES = {
    "dense": ("/api/query", {"mode": "dense"}),
    "sparse": ("/api/query", {"mode": "sparse"}),
    "hybrid": ("/api/query", {"mode": "hybrid"}),
    "fusion": ("/api/search/fusion", {}),
    "filtered": ("/api/query", {"mode": "dense", "filter_field": "lang"}),
    "grown": ("/api/query", {"mode": "graph", "graph": "grown"}),
}
# Per workload: corpus size, closed-loop clients, the route cycle every
# client walks (offset by client), the index artifacts those routes read,
# and the untimed warm-up requests per client, sent on `nproc` connections.
WORKLOADS = {
    "interactive": {
        "docs": 2000, "vocab": 8000, "clients": 1,
        "cycle": ["dense", "sparse", "hybrid", "fusion", "filtered", "hybrid"],
        "artifacts": ["tfidf", "bm25", "keys"], "warm": 18,
    },
    "ingest": {
        "docs": 500, "vocab": 4000, "clients": 2,
        "cycle": ["grown", "dense", "dense", "dense"],
        "artifacts": ["tfidf", "grown"], "warm": 4,
        "batches": 1, "batch_size": 40,
    },
}
COUNT = 10
KEY_SHARE = 0.4
READY_TIMEOUT_S = 150
TRACE_REQUESTS = 12
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def load1():
    return os.getloadavg()[0]


# ---------------------------------------------------------------- requests

def make_streams(corpus, wl, per_client):
    """Per-client request lists: the route cycle, offset by client, with
    queries Zipf-drawn from one seeded pool so popular queries repeat.
    Which fusion queries are keys and which filter value each filtered
    query uses is the workload's shape, the same for every seed."""
    texts, keys = corpus.query_pool(300, KEY_SHARE)
    n = per_client * wl["clients"]
    text_draws = iter(corpus.zipf_stream(texts, n))
    key_draws = iter(corpus.zipf_stream(keys, n))
    shape = gen.shape()
    langs = iter(shape.choice(gen.LANGS, n, p=gen.LANG_WEIGHTS))
    key_turns = iter(shape.random(n) < KEY_SHARE)
    cycle = wl["cycle"]
    streams = []
    for c in range(wl["clients"]):
        reqs = []
        for i in range(per_client):
            route = cycle[(i + c) % len(cycle)]
            path, fixed = ROUTES[route]
            params = dict(fixed, count=str(COUNT))
            if route == "fusion" and next(key_turns):
                params["q"] = next(key_draws)
            else:
                params["q"] = next(text_draws)
            if route == "filtered":
                params["filter_value"] = str(next(langs))
            reqs.append({"route": route, "path": path, "params": params})
        streams.append(reqs)
    return streams


def check(req, status, body, banned=frozenset()):
    """Problem with one response, or None."""
    if status != 200:
        return "status %d: %s" % (status, body[:200])
    try:
        hits = [(float(r["score"]), int(r["id"])) for r in json.loads(body)["results"]]
    except (ValueError, KeyError, TypeError):
        return "malformed body: %s" % body[:200]
    k = int(req["params"]["count"])
    if len(hits) > k:
        return "%d results for count=%d" % (len(hits), k)
    if any((a[0], -a[1]) < (b[0], -b[1]) for a, b in zip(hits, hits[1:])):
        return "results out of (score desc, id asc) order"
    bad = [i for _, i in hits if i in banned]
    if bad:
        return "deleted ids served: %s" % bad[:5]
    return None


class Client:
    """One keep-alive connection to the server."""

    def __init__(self, port):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)

    def call(self, path, params):
        body = urllib.parse.urlencode(params)
        self.conn.request("POST", path, body=body, headers={
            "Content-Type": "application/x-www-form-urlencoded"})
        resp = self.conn.getresponse()
        return resp.status, resp.read().decode("utf-8")

    def close(self):
        self.conn.close()


# ---------------------------------------------------------------- server

class Server:
    def __init__(self, run_dir, data_dir, artifacts, trace):
        self.log_path = os.path.join(run_dir, "server.log")
        env = dict(os.environ, GRAFT_INDEX_DIR=os.path.join(run_dir, "index"),
                   SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp")]
               + [a for p in JDK_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
               + ["-cp", build.classpath(), "servebench.Server", data_dir, run_dir,
                  ",".join(artifacts), str(trace)])
        os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
        self.err = open(self.log_path, "w")
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=self.err,
                                     cwd=run_dir, env=env, text=True)
        self.ready = None

    def wait_ready(self):
        result = {}

        def read():
            for line in self.proc.stdout:
                if line.startswith("BENCH_READY "):
                    result["ready"] = json.loads(line[len("BENCH_READY "):])
                    return
        t = threading.Thread(target=read, daemon=True)
        t.start()
        t.join(READY_TIMEOUT_S)
        if "ready" not in result:
            self.stop()
            raise RuntimeError("server not ready; log tail:\n" + self.tail())
        self.ready = result["ready"]
        return self.ready

    def tail(self):
        self.err.flush()
        with open(self.log_path) as f:
            return "".join(f.readlines()[-30:])

    def stop(self):
        """SIGTERM (Spark's shutdown hook stops the context), then wait."""
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.err.close()


# ---------------------------------------------------------------- phases

def control(port, path, **params):
    """One call to a /bench/ control route, on its own connection (the
    server closes connections idle for longer than its keep-alive)."""
    cl = Client(port)
    try:
        status, body = cl.call(path + "?" + urllib.parse.urlencode(params), {})
    finally:
        cl.close()
    if status != 200:
        raise RuntimeError("%s -> %d %s" % (path, status, body[:500]))
    return json.loads(body)


def on_threads(n, fn):
    """Run fn(0), ..., fn(n - 1) on n threads and wait for them; the
    exceptions they raised, as problem strings."""
    errors = []

    def body(c):
        try:
            fn(c)
        except Exception as e:  # noqa: BLE001 - counted as a failure
            errors.append(repr(e))
    threads = [threading.Thread(target=body, args=(c,)) for c in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return errors


def interleave(streams):
    """One list of the clients' requests, request i of client c at
    position i * clients + c."""
    return [r for reqs in zip(*streams) for r in reqs]


def warm_up(port, stream, clients, banned, fails):
    """Send `stream` once, untimed, over `clients` connections (request i
    on client i mod clients), appending problems to `fails`."""
    def client(c):
        cl = Client(port)
        try:
            for req in stream[c::clients]:
                problem = check(req, *cl.call(req["path"], req["params"]),
                                banned if req["route"] == "grown" else frozenset())
                if problem:
                    fails.append("warm-up %s: %s" % (req["route"], problem))
        finally:
            cl.close()
    fails += on_threads(clients, client)


def drive(port, streams, seconds, banned, fails):
    """Closed-loop clients, one thread and keep-alive connection each, for
    `seconds`, appending problems to `fails`. `banned` holds the ids a
    grown read must not return. Returns (latencies ms of the successful
    requests by route, requests sent, elapsed s)."""
    sent, by_route = [0], {}
    lock = threading.Lock()
    stop_at = time.perf_counter() + seconds

    def client(reqs):
        cl = Client(port)
        try:
            i = 0
            while time.perf_counter() < stop_at:
                req = reqs[i % len(reqs)]
                i += 1
                t0 = time.perf_counter()
                try:
                    status, body = cl.call(req["path"], req["params"])
                except Exception as e:  # connection-level failure
                    status, body = 0, repr(e)
                    cl.close()
                    cl = Client(port)
                ms = (time.perf_counter() - t0) * 1000
                problem = check(req, status, body,
                                banned if req["route"] == "grown" else frozenset())
                with lock:
                    sent[0] += 1
                    if problem:
                        fails.append("%s: %s" % (req["route"], problem))
                    else:
                        by_route.setdefault(req["route"], []).append(ms)
        finally:
            cl.close()

    t0 = time.perf_counter()
    fails += on_threads(len(streams), lambda c: client(streams[c]))
    log("per-route p50 ms: " + ", ".join(
        "%s %.1f (n=%d)" % (r, statistics.median(v), len(v)) for r, v in sorted(by_route.items())))
    return by_route, sent[0], time.perf_counter() - t0


def mix_latency(by_route, cycle):
    """Mean over the route cycle of each route's median latency: the
    typical latency of a request of the workload's mix. A pooled median
    of the mix falls between route clusters and jumps with how many of
    each route a window happens to hold; this does not."""
    if any(r not in by_route for r in cycle):
        return 0.0
    return statistics.mean(statistics.median(by_route[r]) for r in cycle)


def paired(port, stream, clients, banned, fails):
    """The traced phase: each request of `stream` (request i on client
    i mod clients) is sent over HTTP and replayed in the server, untraced
    and then through the traced layers. The HTTP call and the untraced
    replay are adjacent, in alternating order, so box drift does not land
    in their difference. Each request is first sent once untimed: the first
    call of a query is slower than its repeats, and that must not land on
    whichever of the three calls comes first. Appends problems to `fails`;
    returns the HTTP and the untraced in-process latencies in ms."""
    http_ms, plain_ms = [0.0] * len(stream), [0.0] * len(stream)

    def client(c):
        cl = Client(port)

        def over_http(i):
            req = stream[i]
            t0 = time.perf_counter()
            status, body = cl.call(req["path"], req["params"])
            http_ms[i] = (time.perf_counter() - t0) * 1000
            problem = check(req, status, body,
                            banned if req["route"] == "grown" else frozenset())
            if problem:
                fails.append("trace %s: %s" % (req["route"], problem))

        def in_process(i, first):
            plain_ms[i] = control(port, "/bench/trace/req", i=i, first=first,
                                  req=json.dumps(stream[i]))["plain_ms"]
        try:
            for i in range(c, len(stream), clients):
                over_http(i)  # untimed: overwritten below
                if i % 2 == 0:
                    over_http(i)
                    in_process(i, "plain")
                else:
                    in_process(i, "traced")
                    over_http(i)
        finally:
            cl.close()
    fails += on_threads(clients, client)
    return http_ms, plain_ms


def run(args):
    wl = WORKLOADS[args.workload]
    build.build()
    load_start = load1()
    run_dir = os.path.join(build.OUT, "runs", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    server = None
    try:
        corpus = gen.Corpus(args.seed, wl["docs"], wl["vocab"])
        data_dir = os.path.join(run_dir, "data")
        corpus.write(data_dir)
        streams = make_streams(corpus, wl, 400)
        log_path, inserted, deleted = None, [], []
        if "batches" in wl:
            batches, inserted, deleted = corpus.change_log(
                wl["batches"], wl["batch_size"], first_new_id=10 ** 7)
            log_path = os.path.join(run_dir, "changes.json")
            gen.write_change_log(log_path, batches)
        banned = frozenset(deleted)

        t_start = time.perf_counter()
        server = Server(run_dir, data_dir, wl["artifacts"], args.trace)
        ready = server.wait_ready()
        t_ready = time.perf_counter()
        port = ready["port"]
        fails = []
        if log_path:
            # The change log commits before any read, and the warm-up's
            # first grown reads pay the serving-state rebuild the commit
            # caused: set-up ends when the change is searchable. Reads
            # racing the writer on the shared FIFO scheduler vary too much
            # between runs to time at this length.
            control(port, "/bench/ingest/start", log=log_path,
                    probe=streams[0][0]["params"]["q"])
            while not control(port, "/bench/ingest/status")["done"]:
                time.sleep(0.05)
        t_commit = time.perf_counter()
        # untimed warm-up: the first `warm` requests of every client's
        # stream, on nproc connections so the JIT warms in less time
        warm = wl["warm"]
        warm_stream = interleave(s[:warm] for s in streams)
        warm_up(port, warm_stream, len(os.sched_getaffinity(0)), banned, fails)
        setup_s = time.perf_counter() - t_start
        log("setup %.1f s (server ready after %.1f s, committed after %.1f s): %s" % (
            setup_s, t_ready - t_start, t_commit - t_start, ready))

        timed = [s[warm:] for s in streams]
        attempted = len(warm_stream)
        if args.trace:
            traced = interleave(timed)[:TRACE_REQUESTS]
            http_ms, plain_ms = paired(port, traced, wl["clients"], banned, fails)
            attempted += 2 * len(traced)
        else:
            by_route, sent, elapsed = drive(port, timed, args.seconds, banned, fails)
            attempted += sent
        ingest = None
        if log_path:
            ingest = control(port, "/bench/ingest/result")
            served = set(ingest["served_ids"])
            expect = (set(range(wl["docs"])) - set(deleted)) | set(inserted)
            if served != expect:
                fails.append("grown root serves %d ids, expected %d (missing %s, extra %s)" % (
                    len(served), len(expect), sorted(expect - served)[:5],
                    sorted(served - expect)[:5]))
            log("ingest: %d changes in %.1f s, commits %s ms" % (
                ingest["changes"], ingest["write_s"],
                [round(c) for c in ingest["commit_ms"]]))
        mem = control(port, "/bench/memory")
        if args.trace:
            metrics = layer_metrics(args, traced, http_ms, plain_ms, ready, ingest, mem, load_start)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "mem_live_mb": (mem["heap_live_mb"], "MB"),
                "latency_ms": (mix_latency(by_route, wl["cycle"]), "ms"),
                "throughput_per_s": (sum(map(len, by_route.values())) / elapsed, "1/s"),
            }
        log("%s seed=%d: %d requests, %d failed, load1 %.2f -> %.2f" % (
            args.workload, args.seed, attempted, len(fails), load_start, load1()))
        for f in fails[:10]:
            log("FAIL " + f)
        for name, (value, unit) in metrics.items():
            log("  %-34s %14.4f %s" % (name, value, unit))
        return {
            "correct": not fails,
            "attempted": attempted,
            "failed": len(fails),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if server:
            server.stop()
            # the server's log outlives the run directory, for diagnosis
            shutil.copy(server.log_path, os.path.join(build.OUT, "server-%s.log" % args.workload))
        shutil.rmtree(run_dir, ignore_errors=True)


def layer_metrics(args, stream, http_ms, plain_ms, ready, ingest, mem, load_start):
    """Per-layer metrics of the traced phase; writes the trace file."""
    rep = control(ready["port"], "/bench/trace/result")
    m = rep["metrics"]
    out = {}

    def put(name, value, unit):
        out[name] = (float(value or 0.0), unit)

    put("serve.transport_ms", statistics.median(
        h - p for h, p in zip(http_ms, plain_ms)), "ms")
    for route in ROUTES:
        put("api.handle_ms." + route, m.get("api.handle_ms." + route), "ms")
        put("search.plan_ms." + route, m.get("search.plan_ms." + route), "ms")
        put("search.exec_ms." + route, m.get("search.exec_ms." + route), "ms")
        put("spark.jobs_per_req." + route, m.get("spark.jobs_per_req." + route), "count")
    for k in ("jobs", "stages", "tasks"):
        put("spark.%s_per_req" % k, m["spark.%s_per_req" % k], "count")
    for k in ("exec_run_ms", "exec_cpu_ms", "gc_ms"):
        put("spark.%s_per_req" % k, m["spark.%s_per_req" % k], "ms")
    for k in ("input_bytes", "shuffle_bytes"):
        put("spark.%s_per_req" % k, m["spark.%s_per_req" % k], "bytes")
    for a in ("tfidf", "bm25", "keys", "grown"):
        put("index.build_s." + a, ready.get("index.build_s." + a), "s")
        put("index.bytes." + a, ready.get("index.bytes." + a), "bytes")
    ing = ingest or {}
    commits = ing.get("commit_ms") or [0.0]
    put("ingest.write_docs_per_s", ing["changes"] / ing["write_s"] if ing else 0, "1/s")
    put("ingest.commit_p50_ms", statistics.median(commits), "ms")
    put("ingest.trigger_ms", ing.get("ingest.trigger_ms"), "ms")
    put("ingest.jobs_per_batch", ing.get("ingest.jobs_per_batch"), "count")
    put("ingest.bytes_written_per_doc", ing.get("ingest.bytes_written_per_doc"), "bytes")
    put("segstore.fan_in_max", ing.get("segstore.fan_in_max"), "count")
    put("grown.first_read_ms", ing.get("grown.first_read_ms"), "ms")
    put("grown.warm_read_ms", ing.get("grown.warm_read_ms"), "ms")
    put("trace.overhead_pct", m["trace.overhead_pct"], "%")
    put("jvm.gc_ms", mem["gc_ms"], "ms")
    put("proc.load1", load1(), "load")
    trace_dir = os.path.join(build.OUT, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, args.workload + ".json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "load1_start": load_start, "load1_end": load1(),
                   "metrics": {k: v for k, (v, _) in out.items()},
                   "replay_metrics": m, "routes": [r["route"] for r in stream],
                   "http_ms": http_ms, "plain_ms": plain_ms, "spans": rep["spans"]}, f)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind through run()'s cleanup so the server JVM is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
