"""Pure accounting over the raw measurements: percentiles and the tail
rule, which micro-batch made each input file visible, freshness,
backlog and generator lateness. `selfcheck.py` pins these on inputs
whose answers are computed by hand."""
import json
import math
import os

# the tail is the highest percentile with at least TAIL_BEYOND samples
# above it
TAIL_BEYOND = 10


def percentile(xs, p):
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs):
    """(percentile, value) of the tail: the highest percentile with
    TAIL_BEYOND samples beyond it, p = 100 (n - TAIL_BEYOND) / n; the
    maximum (reported as 100) when that would not lie above the median."""
    n = len(xs)
    if n < 2 * TAIL_BEYOND:
        return 100.0, max(xs)
    p = 100.0 * (n - TAIL_BEYOND) / n
    return p, percentile(xs, p)


def median(xs):
    return percentile(xs, 50.0)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def source_log(checkpoint):
    """{file name: batch id} from a file-stream checkpoint's source log
    (`sources/0/<n>` and compacted `<n>.compact` files, one JSON entry
    per input file after a version line)."""
    d = os.path.join(checkpoint, "sources", "0")
    out = {}
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name), encoding="utf-8") as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def visible_ms(files, logs, commits):
    """For each file {topic, name, ...}, the commit time of the batch that
    read it: logs[topic] maps file name to batch id, commits maps
    (topic, batch id) to commit ms. None if it was never committed."""
    out = []
    for f in files:
        b = logs[f["topic"]].get(f["name"])
        out.append(commits.get((f["topic"], b)) if b is not None else None)
    return out


def freshness(files, visible):
    """Seconds from each typed event's creation stamp (its file's) to the
    commit of the batch that made it visible, one sample per event of
    each committed file."""
    return [(v - f["created_ms"]) / 1000.0
            for f, v in zip(files, visible) if v is not None for _ in range(f["typed"])]


def backlog_max(files, visible):
    """Largest number of input lines created but not yet committed, seen at
    any creation or commit instant."""
    events = []
    for f, v in zip(files, visible):
        events.append((f["created_ms"], 0, f["lines"]))
        if v is not None:
            events.append((v, 1, -f["lines"]))
    # at equal instants, count a commit after the creations it covers
    events.sort()
    level = peak = 0
    for _, _, d in events:
        level += d
        peak = max(peak, level)
    return peak


def lateness_max(files):
    """Largest delay, in seconds, of the generator behind its schedule."""
    return max((f["created_ms"] - f["due_ms"]) / 1000.0 for f in files)
