from . import zipcache

# every Python stage imports this package when it unpickles its
# function, so each Spark Python worker installs the stat check
zipcache.install()
