"""The traced run: per-layer spans and counts, recorded from outside the
program.

A ``Tracer`` records one span per call into a layer: name, start, end,
parent span and the run id every span of the run shares.  Spans live in
memory and are written once, at the end.  Each span sets its own Spark job
group; after the session stops, the Spark event log (enabled through
session config only) gives each span's jobs, stages, tasks, shuffle bytes,
spill and GC time, attributed by the job group in the event's properties.
Jobs started from a thread that does not carry the group (streaming
``foreachBatch`` callbacks, which ``statusTracker.getJobIdsForGroup``
would miss) go to the innermost span open when they were submitted.

The run calls the program's own ``pipeline.run_pipeline``.  Its layers are
traced by wrapping the module attributes it looks up
(``pipeline.extract_documents``, ``pipeline.write_table``,
``stage3.connected_components``, ...), so nothing of the program is copied
or changed.  Spark builds each stage lazily: a stage's compute runs inside
the ``write_table`` call that stores it, so that span carries the stage
named by its ``stage=`` argument, and its self time counts to that stage.
Probes then time single layers: a scan, an identity ``mapInArrow`` (the
Python boundary alone), extraction, mention detection and linking to
``noop``, each stage's table rewritten by ``write_table`` from its stored
copy, the fold and the automaton in-process on one core, a resume over
complete manifests, and two incremental windows.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import sys
import time
import uuid

from perfbench import proctree
from perfbench.episode import emit, start

SAMPLE_DOCS = 300


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list = []
        self._stack: list = []

    def _group(self, sid):
        if sid is None:
            self.sc.setJobGroup(None, None)
        else:
            self.sc.setJobGroup(f"pb{self.run_id}.{sid}",
                                self.spans[sid]["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._group(parent)

    def wrap(self, module, attr: str, name: str, note=None) -> None:
        """Replace ``module.attr`` by a traced call; ``note(*args,
        **kwargs)`` may return fields to add to the call's span."""
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name) as rec:
                if note is not None:
                    rec.update(note(*args, **kwargs))
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def self_s(self, rec) -> float:
        """Duration minus the part covered by child spans (children of one
        span never overlap: the run is sequential)."""
        kids = sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] == rec["id"])
        return rec["end"] - rec["start"] - kids

    def subtree(self, rec):
        ids = {rec["id"]}
        for s in self.spans:           # parents precede children
            if s["parent"] in ids:
                ids.add(s["id"])
        return [s for s in self.spans if s["id"] in ids]

    def find(self, name: str, under=None):
        pool = self.subtree(under) if under is not None else self.spans
        return [s for s in pool if s["name"] == name]


_SPAN_METRICS = ("jobs", "stages", "tasks", "shuffle_read_bytes",
                 "shuffle_write_bytes", "spill_bytes", "gc_ms", "cpu_ms")


def attach_event_log(tracer: Tracer, log_dir: str) -> None:
    """Add per-span stage/task counts and task metrics from the event log
    (counts are the span's own, children excluded)."""
    for s in tracer.spans:
        for k in _SPAN_METRICS:
            s[k] = 0
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "**"),
                                        recursive=True)
                   if os.path.isfile(f)
                   and not os.path.basename(f).startswith((".", "appstatus")))
    prefix = f"pb{tracer.run_id}."
    stage_span: dict = {}

    def span_of(props, t_ms):
        group = (props or {}).get("spark.jobGroup.id", "")
        if group.startswith(prefix):
            return int(group[len(prefix):])
        best = None
        for s in tracer.spans:
            if s["start"] <= t_ms / 1000.0 <= s["end"]:
                best = s["id"]        # later spans are nested deeper
        return best

    for path in files:
        with open(path) as f:
            events = [json.loads(line) for line in f]
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                sid = span_of(ev.get("Properties"),
                              ev.get("Submission Time", 0))
                if sid is not None:
                    tracer.spans[sid]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                sid = span_of(ev.get("Properties"),
                              info.get("Submission Time", 0))
                stage_span[(info["Stage ID"], info["Stage Attempt ID"])] = sid
                if sid is not None:
                    tracer.spans[sid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get((ev["Stage ID"],
                                      ev["Stage Attempt ID"]))
                tm = ev.get("Task Metrics")
                if sid is None or tm is None:
                    continue
                s = tracer.spans[sid]
                s["tasks"] += 1
                rd = tm.get("Shuffle Read Metrics", {})
                s["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                            + rd.get("Local Bytes Read", 0))
                s["shuffle_write_bytes"] += tm.get(
                    "Shuffle Write Metrics", {}).get("Shuffle Bytes Written",
                                                     0)
                s["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                     + tm.get("Disk Bytes Spilled", 0))
                s["gc_ms"] += tm.get("JVM GC Time", 0)
                s["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6


def _tree_cpu_s() -> float:
    own = os.times()
    kids = proctree.descendants(os.getpid())
    return (own.user + own.system
            + sum(st[2] for st in kids.values()) / os.sysconf("SC_CLK_TCK"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _sum(spans, key):
    return sum(s.get(key, 0) for s in spans)


def in_process_rates(input_path, surfaces):
    """Single-core fold and automaton rates over the corpus's first
    SAMPLE_DOCS documents (in this process, no Spark)."""
    import pyarrow.parquet as pq

    from recrun_spark.linking import build_alias_pattern, find_mentions
    from recrun_spark.readability import Settings, extract
    settings = Settings.shipped()
    rows = pq.read_table(input_path).slice(0, SAMPLE_DOCS).to_pylist()
    docs = [[(s["kind"], s["text"], s["media_ref"], s["offset"])
             for s in r["spans"]] for r in rows]
    t0 = time.perf_counter()
    recs = [extract(spans, settings, renders=True) for spans in docs]
    fold_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    pattern = build_alias_pattern(surfaces)
    build_s = time.perf_counter() - t0
    texts = [[t for k, t, _m, _o in rec["retained_spans"]
              if k == "text" and t] for rec in recs]
    t0 = time.perf_counter()
    for doc in texts:
        for t in doc:
            find_mentions(t, pattern)
    link_s = time.perf_counter() - t0
    return {"readability.docs_per_s_core": len(docs) / fold_s,
            "linking.build_s": build_s,
            "linking.docs_per_s_core": len(docs) / link_s}


def windows(tracer, spark, input_path, work, n_docs):
    """Two ``run_kg_available_now`` calls with the fixture dictionary (the
    streaming path's default); each window's file is written only after
    the previous call returned.  Returns (window spans, sink)."""
    import pyarrow.parquet as pq

    from recrun_spark.streaming import kg
    table = pq.read_table(input_path)
    src = os.path.join(work, "windows_in")
    os.makedirs(src, exist_ok=True)
    out = os.path.join(work, "windows_out")
    spans = []
    for w in range(2):
        pq.write_table(table.slice(w * n_docs, n_docs),
                       os.path.join(src, f"part-{w:03d}.parquet"))
        with tracer.span("streaming.run_kg_available_now") as rec:
            sink = kg.run_kg_available_now(spark, src, out)
        spans.append(rec)
    return spans, sink


class _Captured(Exception):
    pass


def cli_session_conf(cpus: int) -> dict:
    """The extra session conf the pipeline CLI passes to ``get_spark``
    (its split sizing), captured by running ``pipeline.main`` up to that
    call, so a traced ``kg_batch`` session is configured as the CLI's."""
    import recrun_spark.pipeline as pipeline
    import recrun_spark.session as session
    seen: dict = {}
    real, argv = session.get_spark, sys.argv

    def capture(*args, **kwargs):
        seen.update(kwargs.get("extra_conf") or {})
        raise _Captured

    session.get_spark = capture
    sys.argv = ["recrun_spark.pipeline", "--input", "", "--out", "",
                "--cpus", str(cpus)]
    try:
        pipeline.main()
    except _Captured:
        pass
    finally:
        session.get_spark, sys.argv = real, argv
    return seen


def _write_note(df, path, **kwargs) -> dict:
    """Span fields of a ``write_table`` call: the stage it stores and its
    arguments, so the probe can rewrite the table the same way."""
    return {"stage": kwargs.get("stage", ""), "path": path,
            "kwargs": kwargs}


def _layer(span) -> str:
    """The layer a span's self time counts to: the stage a ``write_table``
    call stores (``stage1_extract`` -> ``stage1``), else the module part
    of the span's name."""
    if span.get("stage"):
        return span["stage"].split("_")[0]
    return span["name"].split(".")[0]


def traced_run(args) -> None:
    import recrun_spark.operators as operators
    import recrun_spark.pipeline as pipeline
    import recrun_spark.stage3 as stage3
    from recrun_spark.io.tableio import read_manifest, read_table, write_table
    from recrun_spark.stage1 import DOCUMENTS_SCHEMA, extract_documents
    from recrun_spark.stage2 import (detect_mentions, link_mentions,
                                     load_aliases)
    work = args.work
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    conf = cli_session_conf(args.cpus) if args.cli_conf else {}
    spark = start(args.cpus, {**conf,
                              "spark.eventLog.enabled": "true",
                              "spark.eventLog.compress": "false",
                              "spark.eventLog.rolling.enabled": "false",
                              "spark.eventLog.dir": "file://" + log_dir})
    tracer = Tracer(spark)
    for attr, name in (("load_aliases", "stage2.load_aliases"),
                       ("extract_documents", "stage1.extract_documents"),
                       ("detect_mentions", "stage2.detect_mentions"),
                       ("link_mentions", "stage2.link_mentions"),
                       ("canonicalize", "stage3.canonicalize"),
                       ("assemble_triples", "stage4.assemble_triples"),
                       ("read_table", "tableio.read_table")):
        tracer.wrap(pipeline, attr, name)
    tracer.wrap(pipeline, "write_table", "tableio.write_table", _write_note)
    tracer.wrap(stage3, "connected_components",
                "operators.connected_components")
    tracer.wrap(operators, "_cc_driver_local", "operators.cc_driver_local")
    out = args.out
    aliases = spark.read.parquet(args.aliases) if args.aliases else None
    try:
        with tracer.span("pipeline.run_pipeline") as root:
            summary = pipeline.run_pipeline(spark, args.input, out,
                                            aliases_df=aliases)
        with tracer.span("pipeline.resume") as resume_span:
            pipeline.run_pipeline(spark, args.input, out, aliases_df=aliases)
        # probes: the program's functions as imported above, unwrapped
        if aliases is None:
            aliases = load_aliases(spark)
        surfaces = [r["alias"] for r in
                    aliases.select("alias").distinct().collect()]
        documents = spark.read.parquet(args.input)
        with tracer.span("io.scan") as scan_span:
            _noop(documents)
        with tracer.span("stage1.boundary") as boundary_span:
            _noop(documents.select("doc_id", "spans").mapInArrow(
                lambda batches: batches, DOCUMENTS_SCHEMA))
        cpu0 = _tree_cpu_s()
        with tracer.span("stage1.extract") as extract_span:
            _noop(extract_documents(documents, None, include_renders=True))
        extract_cpu = _tree_cpu_s() - cpu0
        detected = detect_mentions(
            read_table(spark, os.path.join(out, "stage1_extract")), surfaces)
        with tracer.span("stage2.detect") as detect_span:
            _noop(detected)
        mentions_path = os.path.join(work, "mentions")
        detected.write.parquet(mentions_path)
        mentions = spark.read.parquet(mentions_path)
        n_mentions = mentions.count()
        with tracer.span("stage2.link") as link_span:
            _noop(link_mentions(mentions, aliases))
        rewrites = []
        for w in tracer.find("tableio.write_table", root):
            with tracer.span("tableio.rewrite") as rec:
                write_table(read_table(spark, w["path"]),
                            os.path.join(work, "rewrite", w["stage"]),
                            **w["kwargs"])
            rewrites.append(rec)
        edges = stage3.same_as_edges_df(aliases).count()
        win_spans, sink = windows(tracer, spark, args.input, work,
                                  args.window_docs)
        rates = in_process_rates(args.input, surfaces)
    finally:
        spark.stop()
    attach_event_log(tracer, log_dir)

    def dur(s):
        return s["end"] - s["start"]

    def parts(build, stage):
        """A stage in the pipeline run: its build call and the
        ``write_table`` call that computes and stores it."""
        return [tracer.find(build, root)[0]] + [
            w for w in tracer.find("tableio.write_table", root)
            if w["stage"] == stage]

    def spans_of(tops):
        return [s for top in tops for s in tracer.subtree(top)]

    run_spans = tracer.subtree(root)
    self_by_layer: dict = {}
    for s in run_spans:
        self_by_layer[_layer(s)] = (self_by_layer.get(_layer(s), 0.0)
                                    + tracer.self_s(s))
    run_s = dur(root)
    cc = parts("stage3.canonicalize", "stage3_canonical")
    s4 = parts("stage4.assemble_triples", "stage4_triples")
    docs = summary["docs"]
    extract_s = dur(extract_span)
    linked = read_manifest(os.path.join(out, "stage2_mentions"))["rows"]
    win_jobs = [_sum(tracer.subtree(s), "jobs") for s in win_spans]
    win_stages = [_sum(tracer.subtree(s), "stages") for s in win_spans]
    metrics = {
        "io.scan_s": dur(scan_span),
        "stage1.boundary_s": dur(boundary_span),
        "stage1.extract_s": extract_s,
        "stage1.tasks": extract_span["tasks"],
        "stage1.cpu_util": extract_cpu / (extract_s * args.cpus),
        "stage1.efficiency": (docs / extract_s) / (
            rates["readability.docs_per_s_core"] * args.cpus),
        "readability.docs_per_s_core": rates["readability.docs_per_s_core"],
        "stage2.detect_s": dur(detect_span),
        "stage2.mentions": n_mentions,
        "stage2.link_s": dur(link_span),
        "stage2.link_yield": linked / max(1, n_mentions),
        "linking.docs_per_s_core": rates["linking.docs_per_s_core"],
        "linking.build_s": rates["linking.build_s"],
        "stage3.canonicalize_s": sum(dur(s) for s in cc),
        "stage3.jobs": _sum(spans_of(cc), "jobs"),
        "stage3.stages": _sum(spans_of(cc), "stages"),
        "stage3.edges": edges,
        # the path connected_components took: 0 if it handed the graph to
        # the driver-local union-find, 1 if the distributed star loop ran
        "stage3.distributed": int(not tracer.find(
            "operators.cc_driver_local", cc[0])),
        "stage3.shuffle_bytes": _sum(spans_of(cc), "shuffle_write_bytes"),
        "stage4.assemble_s": sum(dur(s) for s in s4),
        "stage4.triples": summary["triples"],
        "stage4.jobs": _sum(spans_of(s4), "jobs"),
        "tableio.write_s": sum(dur(s) for s in rewrites),
        "tableio.jobs_per_write": statistics.mean(
            _sum(tracer.subtree(s), "jobs") for s in rewrites),
        "tableio.bytes_written": sum(_dir_bytes(os.path.join(out, n))
                                     for n in pipeline.STAGES),
        "pipeline.jobs": _sum(run_spans, "jobs"),
        "pipeline.stages": _sum(run_spans, "stages"),
        "pipeline.tasks": _sum(run_spans, "tasks"),
        "pipeline.shuffle_bytes": _sum(run_spans, "shuffle_write_bytes"),
        "pipeline.spill_bytes": _sum(run_spans, "spill_bytes"),
        "pipeline.gc_s": _sum(run_spans, "gc_ms") / 1000.0,
        "pipeline.resume_s": dur(resume_span),
        "streaming.window_s": dur(win_spans[-1]),
        "streaming.jobs_per_window": statistics.mean(win_jobs),
        "streaming.stages_per_window": statistics.mean(win_stages),
        "streaming.sink_files": len(glob.glob(
            os.path.join(sink, "**", "*.parquet"), recursive=True)),
        "trace.run_s": run_s,
        "trace.stage12_self_share": (self_by_layer.get("stage1", 0.0)
                                     + self_by_layer.get("stage2", 0.0))
        / run_s,
        "trace.stage3_self_share": (self_by_layer.get("stage3", 0.0)
                                    + self_by_layer.get("operators", 0.0))
        / run_s,
    }
    with open(os.path.join(work, "trace.json"), "w") as f:
        json.dump({"run": tracer.run_id, "metrics": metrics,
                   "self_s_by_layer": self_by_layer,
                   "windows_sink": sink,
                   "spans": tracer.spans}, f, indent=1)
    emit("TRACE", {"path": os.path.join(work, "trace.json")})
