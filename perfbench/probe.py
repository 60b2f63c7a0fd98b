"""Host speed probe.

    python3 -m perfbench.probe <out file>

Times a fixed pure-Python loop every ``INTERVAL`` seconds and appends one
line ``<epoch seconds at the end> <loop seconds>`` to the out file, until
it is sent SIGTERM. The loop takes some 2 ms at a nominal speed and the
probe sleeps between loops, so it holds under a tenth of one core. The
run reads the file to learn how fast the host ran during each pass.
"""

from __future__ import annotations

import signal
import sys
import time

#: iterations of the timed loop
LOOP = 40_000
#: the loop's time at the speed the result line's scaled figures refer
#: to: about its median on the 4-core VM the benchmark was sized on
NOMINAL_S = 0.0025
#: seconds from the start of one loop to the start of the next
INTERVAL = 0.02


def spin(n: int = LOOP) -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return time.perf_counter() - t0


def main(out: str) -> int:
    stop = []
    signal.signal(signal.SIGTERM, lambda *_: stop.append(1))
    with open(out, "w") as f:
        while not stop:
            t0 = time.perf_counter()
            d = spin()
            f.write(f"{time.time():.6f} {d:.9f}\n")
            f.flush()
            time.sleep(max(0.0, INTERVAL - (time.perf_counter() - t0)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
