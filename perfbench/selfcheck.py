"""Self-check of the benchmark's latency accounting on a tiny run whose
answers are computed by hand: four files created at known stamps, read
by two micro-batches whose commit times are known, written out as a
real checkpoint source log. Runs at the start of every benchmark run;
`python3 perfbench/selfcheck.py` runs it alone."""
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import accounting as acc  # noqa: E402


def run():
    with tempfile.TemporaryDirectory(dir=os.path.dirname(os.path.abspath(__file__))) as d:
        # batch 0 reads a.json and b.json, batch 1 (compacted log) c.json;
        # warehouse batch 0 reads w.json
        for topic, logs in {"sales": {"0": ["a.json", "b.json"], "1.compact": ["c.json"]},
                            "warehouse": {"0": ["w.json"]}}.items():
            src = os.path.join(d, topic, "sources", "0")
            os.makedirs(src)
            for log, names in logs.items():
                batch = int(log.split(".")[0])
                with open(os.path.join(src, log), "w", encoding="utf-8") as f:
                    f.write("v1\n" + "".join(
                        json.dumps({"path": f"file:///x/in/{topic}/{n}", "timestamp": 0,
                                    "batchId": batch}) + "\n" for n in names))
            open(os.path.join(src, ".1.compact.crc"), "w").close()
        logs = {t: acc.source_log(os.path.join(d, t)) for t in ("sales", "warehouse")}
    assert logs == {"sales": {"a.json": 0, "b.json": 0, "c.json": 1},
                    "warehouse": {"w.json": 0}}, logs

    files = [
        {"topic": "sales", "name": "a.json", "typed": 98, "lines": 100, "due_ms": 1000.0, "created_ms": 1000.0},
        {"topic": "sales", "name": "b.json", "typed": 100, "lines": 100, "due_ms": 1100.0, "created_ms": 1150.0},
        {"topic": "sales", "name": "c.json", "typed": 50, "lines": 50, "due_ms": 1200.0, "created_ms": 1200.0},
        {"topic": "warehouse", "name": "w.json", "typed": 40, "lines": 40, "due_ms": 1000.0, "created_ms": 1010.0},
    ]
    commits = {("sales", 0): 1400.0, ("sales", 1): 2000.0, ("warehouse", 0): 1300.0}
    vis = acc.visible_ms(files, logs, commits)
    assert vis == [1400.0, 1400.0, 2000.0, 1300.0], vis
    fresh = acc.freshness(files, vis)
    # one sample per typed event: 98 x (1400-1000), 100 x (1400-1150),
    # 50 x (2000-1200), 40 x (1300-1010)
    assert sorted(set(round(x, 6) for x in fresh)) == [0.25, 0.29, 0.4, 0.8], fresh
    assert len(fresh) == 288 and round(sum(fresh), 6) == 115.8, (len(fresh), sum(fresh))
    # sorted: 100 x 0.25, 40 x 0.29, 98 x 0.4, 50 x 0.8; samples 143 and
    # 144 are both 0.4, and the tail p96.5 (10 beyond) lies in the 0.8s
    assert round(acc.median(fresh), 6) == 0.4, acc.median(fresh)
    assert round(acc.tail(fresh)[1], 6) == 0.8, acc.tail(fresh)
    # lines pending: 100@1000, 140@1010, 240@1150, 290@1200, 250@1300,
    # 50@1400 (both sales files of batch 0 commit), 0@2000
    assert acc.backlog_max(files, vis) == 290
    # a file never committed stays in the backlog and has no freshness
    assert acc.backlog_max(files, vis[:2] + [None] + vis[3:]) == 290
    assert len(acc.freshness(files, vis[:2] + [None] + vis[3:])) == 238
    assert round(acc.lateness_max(files), 6) == 0.05

    # the tail rule: 200 samples 1..200 -> p95 (10 beyond); 30 -> p66.7
    # (10 beyond); 12 -> max, as 10 beyond would be below the median
    assert acc.tail(list(range(1, 201))) == (95.0, 190.05)
    p, v = acc.tail(list(range(1, 31)))
    assert (round(p, 6), round(v, 6)) == (66.666667, 20.333333), (p, v)
    assert acc.tail(list(range(1, 13))) == (100.0, 12)
    assert round(acc.geomean([1.0, 4.0, 16.0]), 9) == 4.0


if __name__ == "__main__":
    run()
    print("accounting self-check ok")
