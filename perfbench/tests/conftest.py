import os
import sys

# the benchmark's modules import each other as top-level names, the way
# run.py sees them when started as a script
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
