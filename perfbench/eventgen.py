"""Seeded open-loop event generator for the ``hot_path`` workload.

Runs as its own process. From a start instant it drops tracking-event JSON
files into the stream's input directory on a fixed tick: ``low`` rate for
one phase, ``high`` rate for one phase, then a backlog of files all due at
once. Each file is written aside and renamed in, so the stream never sees a
partial file. Send times follow the schedule, not the stream: a file is due
when the schedule says, and the log records both the due and the written
instant.

Input properties, all from the seed:

- user keys ``user-0`` .. ``user-{K-1}``, uniform;
- event time = due time in milliseconds, shifted back by 5-60 s for an
  out-of-order share; never two events with the same (user, event time);
- a duplicate share re-sends an earlier event (same ``event_id`` and
  payload) a few files later, well inside the 10-minute watermark.

The log (JSON) maps every distinct ``event_id`` to its user, event time,
payload and the due instant of its first send, and lists every file.

    python3 perfbench/eventgen.py <settings.json>
"""

from __future__ import annotations

import json
import os
import random
import sys
import time


def _event(rng: random.Random, n: int, seed: int, user: int, ts_ms: int) -> dict:
    return {
        "user_id": f"user-{user}",
        "device_id": f"dev_user-{user}",
        "schema": "tracking_v1",
        "cognitive_predict": False,
        "steps": rng.randrange(0, 16),
        "distance": round(rng.random() * 0.05, 3),
        "heart_rate": rng.randrange(65, 131),
        "calories": rng.randrange(1, 9),
        "timestamp": f"{ts_ms // 1000}.{ts_ms % 1000:03d}",
        "event_id": f"e{seed}-{n}",
    }


class Generator:
    def __init__(self, s: dict):
        self.s = s
        self.rng = random.Random(s["seed"])
        self.n = 0
        self.used: set[tuple[int, int]] = set()
        self.recent: list[dict] = []
        self.events: dict[str, dict] = {}
        self.files: list[dict] = []

    def _fresh(self, due: float, phase: str) -> dict:
        s, rng = self.s, self.rng
        user = rng.randrange(s["user_keys"])
        ts_ms = int(due * 1000)
        if rng.random() < s["out_of_order_share"]:
            ts_ms -= rng.randrange(5_000, s["out_of_order_max_s"] * 1000)
        while (user, ts_ms) in self.used:
            ts_ms -= 1
        self.used.add((user, ts_ms))
        ev = _event(rng, self.n, s["seed"], user, ts_ms)
        self.n += 1
        self.events[ev["event_id"]] = {"due": due, "phase": phase, "ts_ms": ts_ms, **ev}
        self.recent = (self.recent + [ev])[-200:]
        return ev

    def make_file(self, due: float, phase: str) -> list[dict]:
        out = []
        for _ in range(self.s["events_per_file"]):
            if self.recent and self.rng.random() < self.s["duplicate_share"]:
                out.append(self.rng.choice(self.recent))
            else:
                out.append(self._fresh(due, phase))
        return out

    def drop(self, batch: list[dict], due: float, phase: str) -> None:
        name = f"f{len(self.files):06d}.json"
        tmp = os.path.join(self.s["stage_dir"], name)
        with open(tmp, "w") as f:
            f.write("\n".join(json.dumps(e) for e in batch) + "\n")
        os.rename(tmp, os.path.join(self.s["drop_dir"], name))
        self.files.append({"file": name, "due": due, "written": time.time(), "phase": phase, "events": len(batch)})

    def run(self) -> None:
        s = self.s
        t0 = s["start"]
        tick = s["tick_ms"] / 1000.0
        epf = s["events_per_file"]
        for phase, start, rate in (("low", t0, s["low_eps"]), ("high", t0 + s["phase_s"], s["high_eps"])):
            sent = 0
            k = 0
            while True:
                due = start + k * tick
                if due >= start + s["phase_s"]:
                    break
                k += 1
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                owed = int(rate * (due - start + tick) / epf)
                while sent < owed:
                    self.drop(self.make_file(due, phase), due, phase)
                    sent += 1
        due = t0 + 2 * s["phase_s"]
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        for _ in range(s["backlog_files"]):
            self.drop(self.make_file(due, "backlog"), due, "backlog")

    def write_log(self, path: str) -> None:
        with open(path + ".tmp", "w") as f:
            json.dump({"events": self.events, "files": self.files}, f)
        os.rename(path + ".tmp", path)


def main(settings_path: str) -> None:
    with open(settings_path) as f:
        s = json.load(f)
    gen = Generator(s)
    gen.run()
    gen.write_log(s["log"])


if __name__ == "__main__":
    main(sys.argv[1])
