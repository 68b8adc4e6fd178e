#!/usr/bin/env python3
"""Reach sweep: print the main classes that no entry point reaches.

Runs `jdeps -verbose:class` over the compiled main classes, walks the
class graph from ROOTS and prints every unreached class of the
project's own packages, one per line (nothing when all are reached).

    sbt -batch compile && python3 tools/reach.py [classes-dir]

The sweep is class-level: a reached object can still hold defs that
only tests call. The def-level `grep -rlw` loop in
.claude/skills/verify/SKILL.md covers those.
"""
import re
import subprocess
import sys

ROOTS = [
    # the six mains
    "graft.Bench", "graft.Verify", "graft.Smoke", "graft.PlanStats",
    "graft.ExplainDump", "graft.Plans",
    # the classes perfbench names; SparkEntry holds every registry build
    "graft.SparkEntry", "graft.Tables", "graft.sources.Sources",
    "graft.streaming.StreamingPipeline",
    # looked up by name: format("graft.sources.SyntheticEventsSource")
    "graft.sources.SyntheticEventsSource",
]
OURS = re.compile(r"^(graft\.|org\.apache\.spark\.sql\.(execution\.)?graftshim\.)")
EDGE = re.compile(r"^\s+(\S+)\s+->\s+(\S+)")


def main():
    classes = sys.argv[1] if len(sys.argv) > 1 else "target/scala-2.13/classes"
    out = subprocess.run(
        ["jdeps", "-verbose:class", "-filter:none", classes],
        capture_output=True, text=True, check=True).stdout
    graph = {}
    for src, dst in (m.groups() for m in map(EDGE.match, out.splitlines()) if m):
        if OURS.match(src):
            graph.setdefault(src, set())
            if OURS.match(dst):
                graph[src].add(dst)
    # callers name a Scala object's module class `X$`, never its static
    # forwarder `X`: reaching either one reaches both
    for c in list(graph):
        if c + "$" in graph:
            graph[c].add(c + "$")
            graph[c + "$"].add(c)
    todo = [r for r in ROOTS if r in graph]
    seen = set(todo)
    while todo:
        for dst in graph[todo.pop()]:
            if dst not in seen:
                seen.add(dst)
                todo.append(dst)
    for c in sorted(set(graph) - seen):
        print(c)


if __name__ == "__main__":
    main()
