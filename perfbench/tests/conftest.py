import os
import sys

# the checkout root, so `perfbench`, `kgx` and `scripts` import as packages
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
