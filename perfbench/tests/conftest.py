import os
import sys

# the benchmark's modules live one directory up, beside run.py
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))
