#!/usr/bin/env python3
"""CPU-sample shares of a JFR recording, per thread group and per component.

Reads the output of

    jfr print --json --stack-depth 96 [--events jdk.ExecutionSample] rec.jfr

from a file or stdin ("-") and prints, over an optional time window, the
share of `jdk.ExecutionSample` events per thread group (driver, executor,
other) and per component (checkpoint / SizeEstimator, task
deserialization, schema inference, closure cleaning, parquet read and
write, Janino, optimizer, ...), plus the
group x component table.

A sample goes to the component that matches the frame nearest the leaf
of its stack (the order of COMPONENTS breaks a tie within one frame). So
a component counts the samples spent in its own code and in callees no
component claims: Janino under the optimizer counts as Janino, and a
generated operator running under a shuffle map task's writer counts as
"generated operators", not "shuffle". The AQE threads that plan and
submit query stages (`shuffle-exchange-*`, `ResultQueryStageExecution-*`)
count as driver.

Usage:
    jfr print --json --stack-depth 96 --events jdk.ExecutionSample rec.jfr \\
        | python3 scripts/jfr_summary.py - --from 20 --to 60
    python3 scripts/jfr_summary.py rec.json --since 2026-10-19T11:02:00 --threads 10
    python3 scripts/jfr_summary.py --selftest

`--from/--to` are seconds after the first sample; `--since/--until` are
UTC ISO-8601 times. The output of `jfr print --json` for a long recording
is large, so events are decoded one at a time, never as one document.

Standard library only.
"""
import argparse
import collections
import datetime
import json
import sys

# (component, substrings of "package.Class.method"). The match nearest the
# leaf wins; within one frame, the first component listed.
COMPONENTS = [
    ("checkpoint: SizeEstimator", ["org.apache.spark.util.SizeEstimator"]),
    ("checkpoint: block put", ["org.apache.spark.storage.BlockManager.doPutIterator"]),
    ("hadoop conf deserialization", ["org.apache.spark.util.SerializableConfiguration.readObject"]),
    ("task deserialization", ["org.apache.spark.serializer.JavaSerializerInstance.deserialize",
                              "org.apache.spark.scheduler.TaskDescription.decode"]),
    ("schema inference", ["org.apache.spark.sql.execution.datasources.DataSource.getOrInferFileFormatSchema",
                          "mergeSchemasInParallel"]),
    ("closure cleaning", ["org.apache.spark.util.ClosureCleaner"]),
    ("janino compile", ["org.codehaus.janino.", "org.codehaus.commons.compiler.",
                        "expressions.codegen.CodeGenerator$.doCompile"]),
    ("optimizer", ["org.apache.spark.sql.catalyst.optimizer.",
                   "org.apache.spark.sql.execution.adaptive.AQEOptimizer"]),
    ("analyzer", ["org.apache.spark.sql.catalyst.analysis."]),
    ("planning", ["org.apache.spark.sql.catalyst.planning.QueryPlanner",
                  "org.apache.spark.sql.execution.QueryExecution$.prepareForExecution",
                  "org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec.reOptimize"]),
    ("parquet write", ["org.apache.parquet.hadoop.ParquetFileWriter",
                       "org.apache.parquet.hadoop.InternalParquetRecordWriter",
                       "org.apache.parquet.column.impl.ColumnWriter",
                       "datasources.parquet.ParquetWriteSupport",
                       "datasources.parquet.ParquetOutputWriter"]),
    ("parquet read", ["datasources.parquet.VectorizedParquetRecordReader",
                      "datasources.parquet.ParquetFileFormat",
                      "org.apache.parquet.hadoop.ParquetFileReader",
                      "org.apache.parquet.column."]),
    ("shuffle", ["org.apache.spark.shuffle.", "org.apache.spark.storage.ShuffleBlockFetcherIterator",
                 "org.apache.spark.util.collection.unsafe.sort.", "org.apache.spark.util.collection.ExternalSorter"]),
    ("compression", ["org.xerial.snappy.", "com.github.luben.zstd.", "net.jpountz.lz4.",
                     "io.airlift.compress."]),
    ("md5 / hashing", ["sun.security.provider.MD5", "sun.security.provider.DigestBase"]),
    ("listener bus", ["org.apache.spark.scheduler.AsyncEventQueue", "org.apache.spark.scheduler.LiveListenerBus"]),
    ("generated operators", ["GeneratedClass$"]),
    ("filesystem", ["org.apache.hadoop.fs.", "sun.nio.fs.", "java.io.FileOutputStream",
                    "java.io.FileInputStream", "java.io.UnixFileSystem"]),
    ("scheduler", ["org.apache.spark.scheduler."]),
]

DRIVER_PREFIXES = ("main", "dag-scheduler", "task-result-getter", "broadcast-exchange",
                   "subquery", "spark-listener-group", "driver-", "shuffle-exchange",
                   "ResultQueryStageExecution")


def thread_group(name):
    if name.startswith("Executor task launch worker"):
        return "executor"
    if name.startswith(DRIVER_PREFIXES):
        return "driver"
    return "other"


def component(frames):
    """Component of a stack given leaf first, as `jfr print` lists it."""
    for f in frames:
        m = f.get("method") or {}
        cls = ((m.get("type") or {}).get("name") or "").replace("/", ".")
        name = cls + "." + (m.get("name") or "")
        for comp, needles in COMPONENTS:
            if any(n in name for n in needles):
                return comp
    return "other"


def selftest():
    """Pin the attribution rules on synthetic stacks; exit 1 on a miss."""
    def stack(*names):  # leaf first
        return [{"method": {"type": {"name": n.rsplit(".", 1)[0].replace(".", "/")},
                            "name": n.rsplit(".", 1)[1]}} for n in names]
    map_task = ["org.apache.spark.shuffle.sort.BypassMergeSortShuffleWriter.write",
                "org.apache.spark.shuffle.ShuffleWriteProcessor.write",
                "org.apache.spark.scheduler.ShuffleMapTask.runTask"]
    cases = [
        ("generated operator in a map task", "generated operators", component(stack(
            "java.time.Instant.atZone",
            "org.apache.spark.sql.catalyst.expressions.GeneratedClass$GeneratedIteratorForCodegenStage1.processNext",
            *map_task))),
        ("parquet decode in a map task", "parquet read", component(stack(
            "org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader.nextBatch",
            "org.apache.spark.sql.catalyst.expressions.GeneratedClass$GeneratedIteratorForCodegenStage1.processNext",
            *map_task))),
        ("shuffle write leaf", "shuffle", component(stack(
            "org.apache.spark.storage.DiskBlockObjectWriter.write", *map_task))),
        ("shuffle read leaf", "shuffle", component(stack(
            "org.apache.spark.storage.ShuffleBlockFetcherIterator.next",
            "org.apache.spark.sql.catalyst.expressions.GeneratedClass$GeneratedIteratorForCodegenStage2.processNext",
            "org.apache.spark.scheduler.ResultTask.runTask"))),
        ("janino under the optimizer", "janino compile", component(stack(
            "org.codehaus.janino.UnitCompiler.compile",
            "org.apache.spark.sql.catalyst.optimizer.ConstantFolding$.apply"))),
        ("footer read in the inference job", "schema inference", component(stack(
            "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat$.mergeSchemasInParallel",
            "org.apache.spark.sql.execution.datasources.SchemaMergeUtils$.$anonfun$mergeSchemasInParallel$2",
            "org.apache.spark.rdd.RDD.$anonfun$mapPartitions$2",
            "org.apache.spark.scheduler.ResultTask.runTask"))),
        ("inference on the driver", "schema inference", component(stack(
            "org.apache.spark.util.ThreadUtils$.awaitResult",
            "org.apache.spark.sql.execution.datasources.DataSource.getOrInferFileFormatSchema",
            "org.apache.spark.sql.execution.datasources.DataSource.resolveRelation",
            "org.apache.spark.sql.catalyst.analysis.ResolveDataSource.apply"))),
        ("closure cleaning under planning", "closure cleaning", component(stack(
            "org.apache.xbean.asm9.ClassReader.accept",
            "org.apache.spark.util.ClosureCleaner$.clean",
            "org.apache.spark.SparkContext.clean",
            "org.apache.spark.rdd.RDD.mapPartitionsWithIndex",
            "org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec.reOptimize"))),
        ("task runner only", "scheduler", component(stack(
            "org.apache.spark.scheduler.ResultTask.runTask", "java.lang.Thread.run"))),
        ("no known frame", "other", component(stack("java.lang.Thread.run"))),
        ("AQE shuffle-stage thread", "driver", thread_group("shuffle-exchange-3")),
        ("AQE result-stage thread", "driver", thread_group("ResultQueryStageExecution-1")),
        ("executor thread", "executor", thread_group("Executor task launch worker for task 1.0")),
        ("unknown thread", "other", thread_group("process reaper")),
    ]
    bad = [(what, want, got) for what, want, got in cases if got != want]
    for what, want, got in bad:
        print(f"selftest FAIL: {what}: want {want}, got {got}")
    print(f"selftest: {len(cases) - len(bad)}/{len(cases)} ok")
    sys.exit(1 if bad else 0)


def parse_time(s):
    # "2026-10-19T11:01:25.395941895Z": keep microseconds.
    s = s.rstrip("Z")
    if "." in s:
        head, frac = s.split(".", 1)
        s = head + "." + frac[:6]
    return datetime.datetime.fromisoformat(s).replace(tzinfo=datetime.timezone.utc).timestamp()


def events(stream, chunk=1 << 20):
    """Yield the objects of the recording's "events" array one by one."""
    dec = json.JSONDecoder()
    buf = ""
    pos = None
    eof = False
    while True:
        if pos is None:
            i = buf.find('"events"')
            j = buf.find("[", i) if i >= 0 else -1
            if j >= 0:
                buf, pos = buf[j + 1:], 0
                continue
        else:
            while pos < len(buf) and buf[pos] in " \t\r\n,":
                pos += 1
            if pos < len(buf):
                if buf[pos] == "]":
                    return
                try:
                    obj, end = dec.raw_decode(buf, pos)
                except json.JSONDecodeError:
                    if eof:
                        raise
                else:
                    yield obj
                    pos = end
                    continue
            buf, pos = buf[pos:], 0
        if eof:
            return
        more = stream.read(chunk)
        if not more:
            eof = True
        buf += more


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("input", nargs="?", help="`jfr print --json` output, or - for stdin")
    ap.add_argument("--from", dest="t_from", type=float, help="seconds after the first sample")
    ap.add_argument("--to", dest="t_to", type=float, help="seconds after the first sample")
    ap.add_argument("--since", help="UTC ISO-8601 start time")
    ap.add_argument("--until", help="UTC ISO-8601 end time")
    ap.add_argument("--threads", type=int, default=0, help="also list the N busiest thread names")
    ap.add_argument("--selftest", action="store_true", help="check the attribution rules and exit")
    a = ap.parse_args()
    if a.selftest:
        selftest()
    if a.input is None:
        ap.error("the input is required")

    samples = []  # (time, thread name, component)
    src = sys.stdin if a.input == "-" else open(a.input, encoding="utf-8")
    with src:
        for ev in events(src):
            if ev.get("type") != "jdk.ExecutionSample":
                continue
            v = ev.get("values", {})
            name = (v.get("sampledThread") or {}).get("javaName") or ""
            frames = (v.get("stackTrace") or {}).get("frames") or []
            samples.append((parse_time(v["startTime"]), name, component(frames)))
    if not samples:
        sys.exit("jfr_summary: no jdk.ExecutionSample events in the input")

    t0 = min(s[0] for s in samples)
    lo = t0 + a.t_from if a.t_from is not None else float("-inf")
    hi = t0 + a.t_to if a.t_to is not None else float("inf")
    if a.since:
        lo = max(lo, parse_time(a.since))
    if a.until:
        hi = min(hi, parse_time(a.until))
    win = [s for s in samples if lo <= s[0] <= hi]
    if not win:
        sys.exit("jfr_summary: no samples in the window")
    n = len(win)
    span = max(s[0] for s in win) - min(s[0] for s in win)
    print(f"{n} CPU samples over {span:.1f} s "
          f"(window {min(s[0] for s in win) - t0:.1f}-{max(s[0] for s in win) - t0:.1f} s after the first sample)")

    groups = collections.Counter(thread_group(s[1]) for s in win)
    comps = collections.Counter(s[2] for s in win)
    cross = collections.Counter((thread_group(s[1]), s[2]) for s in win)
    order = [g for g in ("driver", "executor", "other") if groups[g]]

    print("\nthread group       samples   share")
    for g in order:
        print(f"{g:<18}{groups[g]:>8}  {100.0 * groups[g] / n:5.1f} %")

    print("\ncomponent                      samples   share  " + "  ".join(f"{g:>8}" for g in order))
    for c, k in comps.most_common():
        cells = "  ".join(f"{100.0 * cross[(g, c)] / n:7.1f}%" for g in order)
        print(f"{c:<30}{k:>8}  {100.0 * k / n:5.1f} %  {cells}")

    if a.threads:
        print("\nthread                                                    samples   share")
        for t, k in collections.Counter(s[1] for s in win).most_common(a.threads):
            print(f"{t[:56]:<56}{k:>9}  {100.0 * k / n:5.1f} %")


if __name__ == "__main__":
    main()
