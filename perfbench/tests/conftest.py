import os
import sys

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the benchmark's modules import each other by bare name, as run.py does,
# and the program under test sits at the checkout root
sys.path.insert(0, BENCH_DIR)
sys.path.insert(1, os.path.dirname(BENCH_DIR))
